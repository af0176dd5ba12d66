package graft.queries

import graft.streaming.StreamingOps.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale training-data pipeline operators (BASELINE.json north star):
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + LSH-bucketed +
  * IVF), and text analysis (lang-id, quality, token counting,
  * fingerprinting) over `documents` / `embeddings`.
  *
  * Scale posture: everything is partition-parallel DataFrame ops — no
  * driver collects; candidate generation is always banded/bucketed so the
  * pairwise stage never goes O(n²) at 100 TB; all hot expressions are
  * Spark built-ins (codegen'd).
  *
  * Determinism: cross-engine-checked queries use md5 (identical in
  * DuckDB) or exact integer math (quantized embeddings: every dot
  * product is a sum of int64 products < 2^53, so DOUBLE results are
  * bit-identical in any summation order). The sketch operators hash
  * with md5-derived 60-bit integers (`conv(substring(md5(x),1,15),
  * 16,10)` ≡ DuckDB `('0x' || substring(md5(x),1,15))::BIGINT`), so
  * MinHash-LSH, SimHash, SRP-LSH, and IVF are hash-checked end to
  * end; only the engine-internal sketch layouts (HLL registers,
  * KLL quantiles) remain rows-only.
  *
  * The dedup operators plant deterministic near-duplicates (doc_id %
  * 10 == 0 → copy with one appended token, id + 1_000_000) so the
  * candidate-pair output is non-empty and self-verifying at every SF.
  */
object PipelineQueries {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  /** documents ∪ planted near-duplicates (deterministic). */
  private def corpusWithPlants(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val planted = docs.where(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" zzz")))
    docs.unionByName(planted)
  }

  /** See [[graft.ops.TextDedup.shingled]] — kept as a local alias for
    * the query bindings below.
    */
  private def withShingles(df: DataFrame): DataFrame =
    graft.ops.TextDedup.shingled(df)

  /** Gate binding of [[graft.ops.TextDedup.jaccardPairs]] (lang-blocked,
    * jaccard ≥ 0.3) over the planted corpus — the candidate generation
    * behind d08 and the edge set of d21.
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    graft.ops.TextDedup.jaccardPairs(corpusWithPlants(s, d))

  /** See [[graft.ops.TextDedup.connectedComponents]]. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    graft.ops.TextDedup.connectedComponents(pairs)

  /** embeddings quantized to int64 (×1000) + planted exact copies —
    * the gate binding of [[graft.ops.Embeddings.quantized]].
    */
  private def quantizedEmbeddings(s: SparkSession, d: String, plant: Boolean): DataFrame = {
    val e = t(s, d, "embeddings")
    val base = if (plant) {
      e.unionByName(e.where(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    } else e
    graft.ops.Embeddings.quantized(base)
  }

  val queries: Map[String, Q] = Map(
    // --- exact dedup: content-hash groupBy (the 100 TB-safe baseline) --
    "d01_dedup_exact" -> { (s, d) =>
      graft.ops.TextDedup.exactDedup(corpusWithPlants(s, d))
        .orderBy(col("content_hash"))
    },

    // --- exact dedup after normalization (lower/trim/collapse-ws) ------
    "d02_dedup_normalized" -> { (s, d) =>
      corpusWithPlants(s, d)
        .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .groupBy(md5(col("norm")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
          max(length(col("norm"))).as("n_chars"))
        .orderBy(col("content_hash"))
    },

    // --- token counting: whitespace + BPE-ish regex --------------------
    "d03_token_count" -> { (s, d) =>
      graft.ops.Corpus.tokenCounts(t(s, d, "documents")).orderBy(col("doc_id"))
    },

    // --- quality scoring: length/stopword/alpha ratios -----------------
    "d04_quality_score" -> { (s, d) =>
      graft.ops.Corpus.qualityScore(t(s, d, "documents")).orderBy(col("doc_id"))
    },

    // --- language ID: stopword-profile n-gram heuristic ----------------
    "d05_lang_id" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("s_en", expr("size(filter(toks, t -> t in ('the','a','of','and','to','in','is')))"))
        .withColumn("s_de", expr("size(filter(toks, t -> t in ('der','die','das','und','ist','nicht','mit')))"))
        .withColumn("s_es", expr("size(filter(toks, t -> t in ('el','la','de','que','y','en','los')))"))
        .withColumn("s_fr", expr("size(filter(toks, t -> t in ('le','les','et','des','un','une','est')))"))
        .withColumn("s_zh", expr("size(filter(toks, t -> t in ('的','是','不','了','在','我','有')))"))
        .withColumn("pred_lang", expr(
          """case
            |  when s_en >= s_de and s_en >= s_es and s_en >= s_fr and s_en >= s_zh then 'en'
            |  when s_de >= s_es and s_de >= s_fr and s_de >= s_zh then 'de'
            |  when s_es >= s_fr and s_es >= s_zh then 'es'
            |  when s_fr >= s_zh then 'fr'
            |  else 'zh' end""".stripMargin))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred_lang"))
    },

    // --- document fingerprinting (md5-based 64-bit prefix) -------------
    "d06_fingerprint" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .select(col("doc_id"), substring(md5(col("norm")), 1, 16).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    // --- MinHash + LSH near-dup (shingle → 32 minhashes → 8 bands) -----
    "d07_dedup_minhash_lsh" -> { (s, d) =>
      // [[graft.ops.TextDedup.minhashLshPairs]] over the planted corpus.
      // The 32 MinHash permutations are modular affine maps over an
      // md5-derived base hash computed in the native MinHash32
      // expression — bit-identical in any engine with md5 + hex→int,
      // which is what lets the WHOLE LSH pipeline (permutations,
      // banding, candidate pairs, verification) be hash-checked against
      // DuckDB instead of rows-only.
      graft.ops.TextDedup.minhashLshPairs(corpusWithPlants(s, d))
        .orderBy(col("a"), col("b"))
    },

    // --- n-gram Jaccard dedup with blocking keys (no LSH) --------------
    "d08_dedup_ngram_jaccard" -> { (s, d) =>
      jaccardPairs(s, d)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy(col("a"), col("b"))
    },

    // --- sorted-neighborhood (merge/purge) blocking --------------------
    "d58_sorted_neighborhood" -> { (s, d) =>
      // The classic third candidate-generation family next to LSH (d07)
      // and inverted-index blocking (d08): sort by a normalized-prefix
      // key inside prefix blocks, pair each doc with its next-3 sort
      // neighbors via lead(), verify with exact token Jaccard. The
      // planted near-dups differ only at the text TAIL, so their sort
      // keys collide and SNM must surface every planted pair.
      graft.ops.TextDedup.sortedNeighborhoodPairs(corpusWithPlants(s, d))
        .orderBy(col("a"), col("b"))
    },

    // --- near-dup pair graph → connected components → retention --------
    "d21_dedup_clusters" -> { (s, d) =>
      // The missing last step of every dedup pipeline: pairs alone
      // don't say which docs to DROP. Resolve the pair graph into
      // clusters by min-label propagation — each node adopts the
      // smallest label among itself and its neighbors, iterated to
      // fixpoint. Rounds are bounded by the cluster diameter (near-dup
      // clusters are shallow; ≤20 guards pathological chains), each
      // round shuffles only slim (node, label) rows, and lineage is cut
      // per round with localCheckpoint — the standard large-graph CC
      // shape. Retention: keep the cluster representative (min doc_id).
      connectedComponents(jaccardPairs(s, d).select(col("a"), col("b")))
        .select(col("node").as("doc_id"), col("lab").as("cluster_rep"),
          (col("node") === col("lab")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // --- quality-aware retention: keep the BEST doc per cluster --------
    "d33_cluster_retention" -> { (s, d) =>
      // Production dedup keeps the best copy, not the first-crawled
      // one: within each near-dup cluster retain the highest-quality
      // doc (quality ties → smallest id). Composes the ops API:
      // jaccard edges → connected components → d04 quality scorer,
      // one slim (node, lab) ⋈ (doc_id, quality) join at the end.
      import org.apache.spark.sql.expressions.Window
      val docs = corpusWithPlants(s, d)
      val cc = graft.ops.TextDedup.connectedComponents(
        graft.ops.TextDedup.jaccardPairs(docs).select(col("a"), col("b")))
      val q = graft.ops.Corpus.qualityScore(docs).select(col("doc_id"), col("quality"))
      val w = Window.partitionBy(col("lab")).orderBy(col("quality").desc, col("node"))
      cc.join(q, cc("node") === q("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("lab").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("node"))).as("keep_doc"),
          // raw double, no round(): the quality bits are engine-identical
          // (d04 hash-passes), while round(x, 6) disagrees AT half
          // boundaries (Spark rounds the decimal string, DuckDB the
          // binary double)
          max(when(col("rn") === 1, col("quality"))).as("keep_quality"))
        .orderBy(col("cluster"))
    },

    // --- PII scrubbing: regex redaction + per-doc counts ---------------
    "d22_pii_redaction" -> { (s, d) =>
      // Deterministic PII is planted (doc_id % 7) so the redaction path
      // is exercised at every SF. Counts and the md5 of the redacted
      // text gate the behavior; per-row regex work only — nothing
      // crosses rows, so the op scales with the scan.
      val er = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val pr = "\\+1-555-[0-9]{4}"
      t(s, d, "documents")
        .withColumn("text2", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or +1-555-"), format_string("%04d", col("doc_id") % 10000)))
          .otherwise(col("text")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("text2"), lit(er), lit(0))).cast(LongType).as("n_emails"),
          size(regexp_extract_all(col("text2"), lit(pr), lit(0))).cast(LongType).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("text2"), er, "<EMAIL>"), pr, "<PHONE>"))
            .as("redacted_hash"))
        .orderBy(col("doc_id"))
    },

    // --- URL extraction + domain rollup --------------------------------
    // --- registered-domain grouping over the public-suffix list --------
    "d147_reg_domain_groups" -> { (s, d) =>
      // Domain-level mixture/blocklist keys are REGISTERED domains, not
      // hosts (one blog network = thousands of hosts, one reg domain).
      // graft_net_reg_domain matches the bundled ICANN PSL; the URL mix
      // exercises the wildcard rule (*.ck → every shop is its own reg
      // domain), a multi-label suffix with preserved case (Sample.Co.UK),
      // and the ICANN/private split (github.io is a PRIVATE-section
      // entry, so its reg domain is github.io itself under BigQuery's
      // ICANN-only matching). Scale shape: per-row trie lookup (JVM-
      // static PSL), then one hash aggregation on the derived key —
      // exactly a domain-quota pipeline's first stage.
      graft.functions.BitSketchExpressions.register(s)
      t(s, d, "customer")
        .withColumn("url", concat(
          lit("https://shop-"), col("c_custkey") % 50, lit("."),
          when(col("c_custkey") % 4 === 0, lit("example.com"))
            .when(col("c_custkey") % 4 === 1, lit("Sample.Co.UK"))
            .when(col("c_custkey") % 4 === 2, lit("github.io"))
            .otherwise(lit("web.ck")),
          lit("/p?id="), col("c_custkey")))
        .select(expr("graft_net_reg_domain(url)").as("rd"))
        .groupBy(col("rd"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("rd"))
    },

    "d23_url_stats" -> { (s, d) =>
      val ur = "https?://([A-Za-z0-9.-]+)"
      t(s, d, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://site"), col("doc_id") % 20, lit(".example.org/page")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" ref http://www.ref"), col("doc_id") % 7, lit(".net/x?id="), col("doc_id")))
            .otherwise(lit(""))))
        .select(col("doc_id"), explode(regexp_extract_all(col("text2"), lit(ur), lit(1))).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    },

    // --- SimHash (64-bit) over tokens + bucketed hamming candidates ----
    "d09_dedup_simhash" -> { (s, d) =>
      // [[graft.ops.TextDedup.simhashPairs]] — exact for hamming ≤ 3
      // (half-key + single-bit-flip multi-probe, pigeonhole over the
      // two 32-bit halves), so the output equals brute-force all-pairs
      // hamming and the oracle can hash-check it.
      graft.ops.TextDedup.simhashPairs(corpusWithPlants(s, d))
        .orderBy(col("a"), col("b"))
    },

    // --- brute-force cosine top-k ANN baseline (exact-int math) --------
    "d10_ann_bruteforce_topk" -> { (s, d) =>
      val e = quantizedEmbeddings(s, d, plant = false)
      graft.ops.Embeddings.bruteForceTopK(e, e.where(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // --- PII redaction transform ----------------------------------------
    "d146_pii_redaction" -> { (s, d) =>
      // deterministic planted PII (both engines build the same input):
      // an email, an IPv4, a +phone, and a 16-digit card-shaped run
      val docs = t(s, d, "documents").where(col("doc_id") < 300)
        .withColumn("text", expr(
          """concat(text, ' contact u', CAST(doc_id AS STRING),
            |'@ex.com ip 10.0.', CAST(doc_id % 256 AS STRING),
            |'.77 tel +1-555-000', CAST(doc_id AS STRING),
            |' acct 4111111111111111')""".stripMargin.replace("\n", " ")))
      graft.ops.Corpus.redactPii(docs)
        .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
          col("n_num"), col("redacted"))
        .orderBy(col("doc_id"))
    },

    // --- SemDeDup: cluster-bucketed embedding-cosine dedup --------------
    "d145_semantic_dedup" -> { (s, d) =>
      // planted exact copies (vec_id + 1M) land in their original's
      // cell with cosine 1.0 and must be dropped with near_id = the
      // original; organic drops depend only on the 0.995 threshold
      val e = quantizedEmbeddings(s, d, plant = true)
      val cents = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cnrm"))
      graft.ops.Embeddings.semanticDedup(e, cents, 0.995)
        .orderBy(col("vec_id"))
    },

    // --- embedding near-dup via sign-random-projection LSH -------------
    "d11_dedup_embedding_lsh" -> { (s, d) =>
      graft.ops.Embeddings.srpPairs(quantizedEmbeddings(s, d, plant = true))
        .orderBy(col("a"), col("b"))
    },

    // --- IVF-style ANN: coarse centroids → probe 2 cells → top-3 -------
    "d12_ann_ivf" -> { (s, d) =>
      val e = quantizedEmbeddings(s, d, plant = false)
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cnrm"))
      graft.ops.Embeddings.ivfTopK(e,
          e.where(col("vec_id") >= 100 && col("vec_id") < 110), cents,
          nProbe = 2, k = 3)
        .orderBy(col("query_id"), col("rank"))
    },

    // --- TF-IDF-shaped term ranking (integer-only, cross-engine-exact) -
    "d24_tfidf_terms" -> { (s, d) =>
      // Classic TF-IDF ranking without the floating-point log: rank by
      // (tf DESC, df ASC, term) — the same ordering idf induces, but
      // integer-exact so the oracle hash-matches. tf aggregates with
      // map-side combine on (doc_id, term); df is a vocabulary-sized
      // table joined back broadcast-small relative to the corpus.
      import org.apache.spark.sql.expressions.Window
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(dfreq, "term")
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
          col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // --- k-means refinement (2 Lloyd iterations) for the IVF index -----
    "d25_kmeans_refine" -> { (s, d) =>
      val (e, out) = kmeansRefinePlan(s, d)
      val result = out.localCheckpoint(true)
      e.unpersist()
      result
    },

    // --- ANN top-k via typed Aggregator: bounded k-buffer per group,
    //     map-side reduced before the shuffle (no full sort of the
    //     candidate set — the 100 TB path) ------------------------------
    "d13_ann_topk_aggregator" -> { (s, d) =>
      val e = quantizedEmbeddings(s, d, plant = false)
      graft.ops.Embeddings.topKAggregated(s, e, e.where(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // --- approximate sketches: HLL distinct + quantile sketch ----------
    // The sketch VALUES are engine-specific, so the gate columns are the
    // exact aggregates plus accuracy booleans that DEPEND on the sketch
    // output — a broken sketch flips a boolean and fails the hash against
    // the oracle's literal TRUE. Rank error of percentile_approx is
    // bounded by n/accuracy, far inside the ±2-percentile window asserted.
    "d14_approx_sketches" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_ck"),
          countDistinct(col("o_custkey")).as("exact_custkeys"),
          count(lit(1)).as("n_rows"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("ap50"),
          percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("ap99"),
          expr("percentile(o_totalprice, 0.48)").as("lo50"),
          expr("percentile(o_totalprice, 0.52)").as("hi50"),
          expr("percentile(o_totalprice, 0.97)").as("lo99"),
          max(col("o_totalprice")).as("hi99"))
        .select(
          col("o_orderstatus"), col("exact_custkeys"), col("n_rows"),
          (abs(col("approx_ck") - col("exact_custkeys")) <=
            col("exact_custkeys") * 0.05).as("approx_within_5pct"),
          (col("ap50") >= col("lo50") && col("ap50") <= col("hi50")).as("p50_in_band"),
          (col("ap99") >= col("lo99") && col("ap99") <= col("hi99")).as("p99_in_band"))
        .orderBy(col("o_orderstatus"))
    },

    // --- custom HLL TypedImperativeAggregate vs exact counts ----------
    // Same gate trick: our register layout is engine-specific, so assert
    // the <5% error bound (p=11 HLL) as a boolean the oracle pins to TRUE.
    "d15_hll_sketch" -> { (s, d) =>
      graft.functions.HllSketch.register(s)
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderstatus,
              |  abs(graft_hll(o_custkey) - count(DISTINCT o_custkey))
              |    <= count(DISTINCT o_custkey) * 0.05 AS hll_within_5pct,
              |  count(DISTINCT o_custkey) AS exact_custkeys,
              |  count(1) AS n_rows
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // --- benchmark-contamination check: corpus docs sharing too many
    //     word-3-grams with a (small) benchmark set. The benchmark side
    //     is bounded (eval sets are), so its exploded shingles BROADCAST
    //     and the corpus streams through once — no shuffle of the corpus
    //     at 100 TB ---------------------------------------------------
    "d18_contamination" -> { (s, d) =>
      val sh = withShingles(t(s, d, "documents"))
        .select(col("doc_id"), col("shingles"))
        // shingling feeds both the benchmark and corpus branches —
        // materialize once (same lesson as d07: an unpersisted subtree
        // recomputes per consumer)
        .persist()
      val bench = sh.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bench_id"), explode(col("shingles")).as("sh"))
      val corpus = sh.where(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), size(col("shingles")).as("n_sh"), explode(col("shingles")).as("sh"))
      val out = corpus.join(broadcast(bench), Seq("sh"))
        // shingles are distinct per doc, so (doc, bench) pairs hit once
        // per shared shingle — count(1) IS the overlap size
        .groupBy(col("doc_id"), col("bench_id"), col("n_sh"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("overlap", round(col("shared").cast(DoubleType) / col("n_sh"), 6))
        .where(col("overlap") >= 0.1)
        .select(col("doc_id"), col("bench_id"), col("shared"), col("overlap"))
        .orderBy(col("doc_id"), col("bench_id"))
        // checkpoint-then-unpersist (the d98 pattern): the shingle
        // cache must not outlive the query in a long-lived JVM
        .localCheckpoint(true)
      sh.unpersist()
      out
    },

    // --- deterministic hash-based sampling: content-hash prefix keeps a
    //     fixed ~19% slice, reproducible across runs/engines with no RNG
    //     state — the way a 100 TB pipeline pins a sample -------------
    "d19_hash_sample" -> { (s, d) =>
      t(s, d, "documents")
        .where(substring(md5(col("text")), 1, 1).isin("0", "1", "2"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    },

    // --- intra-document repetition score: duplicate word-3-gram
    //     fraction (Gopher/RefinedWeb-style quality rule) — pure
    //     per-row expressions, no shuffle at all -----------------------
    "d20_repetition_score" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .where(size(col("toks")) >= 3)
        .withColumn("grams", expr(
          """transform(sequence(1, size(toks)-2),
            |  i -> concat(element_at(toks,i), ' ', element_at(toks,i+1), ' ', element_at(toks,i+2)))""".stripMargin))
        .select(col("doc_id"),
          size(col("grams")).cast(LongType).as("n_grams"),
          size(array_distinct(col("grams"))).cast(LongType).as("n_distinct"),
          round((size(col("grams")) - size(array_distinct(col("grams"))))
            .cast(DoubleType) / size(col("grams")), 6).as("rep_ratio"))
        .orderBy(col("doc_id"))
    },

    // --- sketch ACCURACY gates: exact columns hash-checked, estimates
    //     verified via tolerance booleans the oracle asserts as `true` —
    //     if a sketch drifts out of tolerance the hash check fails ------
    "d16_sketch_accuracy" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("exact_custkeys"),
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_custkeys"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50a"),
          expr("percentile(o_totalprice, 0.5)").as("p50e"),
          percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("p99a"),
          expr("percentile(o_totalprice, 0.99)").as("p99e"))
        .select(col("o_orderstatus"), col("exact_custkeys"),
          (abs(col("approx_custkeys") - col("exact_custkeys"))
            <= col("exact_custkeys") * 0.05).as("cd_ok"),
          (abs(col("p50a") - col("p50e")) <= col("p50e") * 0.02).as("p50_ok"),
          (abs(col("p99a") - col("p99e")) <= col("p99e") * 0.02).as("p99_ok"))
        .orderBy(col("o_orderstatus"))
    },

    "d17_hll_accuracy" -> { (s, d) =>
      graft.functions.HllSketch.register(s)
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderstatus,
              |  count(DISTINCT o_custkey) AS exact_custkeys,
              |  cast(abs(graft_hll(o_custkey) - count(DISTINCT o_custkey)) as double)
              |    / count(DISTINCT o_custkey) <= 0.05 AS hll_ok
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // --- the full training-data selection funnel -----------------------
    "d27_corpus_funnel" -> { (s, d) =>
      // Composition of the individually-gated stages into the pipeline a
      // corpus actually flows through: quality floor (the d04 scorer
      // from the ops API — the formula lives in ONE place) →
      // exact-normalized dedup (keep min doc_id) → benchmark
      // decontamination. Per-row flags and slim joins only; the funnel
      // emits per-stage survivor counts via stack (unpivot).
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "documents")
      val docs = graft.ops.Corpus.qualityScore(base)
        .select(col("doc_id"), col("quality"))
        .join(base.withColumn("dedup_keep",
            row_number().over(Window.partitionBy(
              md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
              .orderBy(col("doc_id"))) === 1)
          .select(col("doc_id"), col("dedup_keep")), "doc_id")
      // contaminated = shares ≥10% of its shingles with a benchmark doc
      // (the d18 rule); benchmark side broadcasts. One shingling pass
      // feeds both branches (persist — same lesson as d18).
      val sh = withShingles(t(s, d, "documents")).select(col("doc_id"), col("shingles"))
        .persist()
      val bench = sh.where(col("doc_id") % 50 === 0)
        .select(explode(col("shingles")).as("sh"))
        .distinct()
      val contaminated = sh.where(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), size(col("shingles")).as("n_sh"), explode(col("shingles")).as("sh"))
        .join(broadcast(bench), "sh")
        .groupBy(col("doc_id"), col("n_sh")).agg(count(lit(1)).as("shared"))
        .where(col("shared").cast(DoubleType) / col("n_sh").cast(DoubleType) >= 0.1)
        .select(col("doc_id")).withColumn("contaminated", lit(true))
      val flagged = docs.join(contaminated, Seq("doc_id"), "left")
        .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      val out = flagged.agg(
          count(lit(1)).as("n0"),
          count(when(col("quality") >= 0.5, 1)).as("n1"),
          count(when(col("quality") >= 0.5 && col("dedup_keep"), 1)).as("n2"),
          count(when(col("quality") >= 0.5 && col("dedup_keep") && !col("contaminated"), 1)).as("n3"))
        .selectExpr(
          """stack(4,
            |  '0_total', n0,
            |  '1_quality_floor', n1,
            |  '2_after_dedup', n2,
            |  '3_decontaminated', n3) AS (stage, n_docs)""".stripMargin)
        .orderBy(col("stage"))
        .localCheckpoint(true)
      sh.unpersist()
      out
    },

    // --- heavy hitters via Misra–Gries, gated on its guarantee ---------
    "d26_heavy_hitters" -> { (s, d) =>
      // The sketch's candidate set is merge-order-dependent BEYOND its
      // guarantee, so the gate checks exactly the guarantee: every term
      // with true frequency > n/k (k = 64) must be in the candidate
      // set. Exact counts re-derive from the corpus (the standard
      // "sketch filters, exact pass confirms" topology); integer
      // compare cnt·64 > n avoids a float threshold.
      graft.functions.MisraGries.register(s)
      val toks = t(s, d, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      val sketch = toks.agg(expr("graft_heavy_hitters(term)").as("candidates"))
      val stats = toks.agg(count(lit(1)).as("n"))
      toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(stats))
        .where(col("cnt") * 64 > col("n"))
        .crossJoin(broadcast(sketch))
        .select(col("term"), col("cnt"),
          array_contains(col("candidates"), col("term")).as("in_sketch"))
        .orderBy(col("term"))
    },

    // --- sequence packing (concatenate-and-cut) ------------------------
    "d28_sequence_packing" -> { (s, d) =>
      // The standard pretraining batch-construction op: lay documents
      // end-to-end in a deterministic order and cut every 2048 tokens;
      // a document belongs to the pack where its first token lands
      // (packs straddle doc boundaries, exactly like production
      // concat-and-chunk). Scale shape: docs are split into independent
      // hash buckets first (doc_id % 16 here so the oracle can replay
      // it; at 100 TB the bucket IS the partition), then ONE window
      // cumsum per bucket — a single shuffle, no driver state, and no
      // global ordering requirement across buckets.
      graft.ops.Corpus.packSequences(t(s, d, "documents"),
          budget = 2048, numBuckets = 16)
        .orderBy(col("bucket"), col("pack_id"))
    },

    // --- length-bucketed batching (the seq2seq sibling of d28): docs
    //     grouped into power-of-two token-length buckets so batch
    //     padding is bounded by 2×; the gate accounts the padding waste
    //     each bucket actually pays and the batches it yields. One
    //     groupBy over per-doc token counts — vocabulary-sized output,
    //     no window, no global sort at 100 TB ---------------------------
    "d61_length_bucketing" -> { (s, d) =>
      val buckets = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L)
      // tokens beyond the top bucket are truncated (as batching does),
      // so padding_waste is non-negative by construction
      val n = least(size(split(lower(trim(col("text"))), "\\s+")).cast(LongType),
        lit(buckets.last))
      val bucket = buckets.reverse.tail.foldLeft(lit(buckets.last)) {
        (acc, b) => when(n <= b, b).otherwise(acc)
      }
      t(s, d, "documents")
        .select(col("doc_id"), n.as("n_toks"), bucket.as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("sum_toks"),
          max(col("n_toks")).as("max_toks"))
        .withColumn("padding_waste", col("bucket") * col("n_docs") - col("sum_toks"))
        .withColumn("n_batches", expr("(n_docs + 31) div 32"))
        .orderBy(col("bucket"))
    },

    // --- stratified deterministic sampling -----------------------------
    "d29_stratified_sample" -> { (s, d) =>
      // Per-stratum sampling at different target rates, pinned by a
      // content-hash residue instead of RNG state (the stratified
      // sibling of d19): lang decides the keep-percentage, the 60-bit
      // md5 prefix mod 100 decides membership. Reproducible across
      // runs, engines, and cluster sizes; one scan, one tiny groupBy.
      graft.ops.Corpus.stratifiedFlag(t(s, d, "documents"), expr(
          """CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'fr' THEN 30
            |WHEN 'es' THEN 20 ELSE 10 END""".stripMargin))
        .groupBy(col("lang"), col("rate_pct"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("sampled"), 1)).as("n_sampled"),
          min(when(col("sampled"), col("doc_id"))).as("min_sampled_doc"))
        .orderBy(col("lang"))
    },

    // --- incremental dedup: new batch vs historical index --------------
    "d30_incremental_dedup" -> { (s, d) =>
      // The production dedup shape after day one: the historical corpus
      // is represented ONLY by slim derived tables (a content-hash
      // index and a shingle inverted index — maintained incrementally,
      // at 100 TB stored bucketed by their join keys), and each new
      // crawl batch joins against them. The batch never self-joins and
      // history×history is never recomputed. Exact dups via hash
      // equi-join; near dups via the d08 shingle equi-join restricted
      // to new×history; verdict precedence exact > near > keep.
      val (history, newBatch) = incrementalDedupInputs(s, d)
      graft.ops.TextDedup.incrementalDedup(history, newBatch)
        .orderBy(col("doc_id"))
    },

    // --- temperature-weighted domain mixture ---------------------------
    "d31_domain_mixture" -> { (s, d) =>
      // Mixture weights for pretraining sampling: w_i ∝ tokens_i^0.5
      // (temperature α = 0.5 flattens the source distribution), plus a
      // 10M-token allocation per source. Per-source aggregates are
      // bounded (sources are a vocabulary, not data-sized), so the
      // normalizer is computed over a sorted collected list — float
      // summation order is pinned, making the DOUBLE output
      // bit-reproducible across engines and partitionings.
      graft.ops.Corpus.mixtureWeights(t(s, d, "documents"),
          domainCol = "source", budgetTokens = 1e7)
        .orderBy(col("source"))
    },

    // --- embedding int8 quantization -----------------------------------
    "d32_embedding_quantize" -> { (s, d) =>
      // Storage/ANN-index prep: symmetric int8 quantization per vector.
      // scale = max|x| is order-independent (no float-sum race);
      // q_j = round(127·x_j/scale) is pure per-element double math, so
      // the whole op is codegen'd per-row work with zero shuffles. The
      // gate emits an index-weighted checksum (exact int64 sums commute)
      // instead of the array.
      graft.ops.Embeddings.quantizeInt8(t(s, d, "embeddings"))
        .select(col("vec_id"), col("dim"), col("scale"),
          expr("""aggregate(zip_with(q, sequence(1, size(q)), (qv, i) -> qv * cast(i as bigint)),
                |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin).as("checksum"),
          expr("array_min(q)").as("q_min"), expr("array_max(q)").as("q_max"))
        .orderBy(col("vec_id"))
    },

    // --- ANN recall@k: the IVF index evaluated against its own
    //     brute-force ground truth — the metric that decides nProbe
    //     on a real index. Both sides are exact-int cosine, so recall
    //     is engine-exact and the oracle replays it verbatim ----------
    "d34_ann_recall" -> { (s, d) =>
      val e = quantizedEmbeddings(s, d, plant = false)
      val qs = e.where(col("vec_id") >= 100 && col("vec_id") < 110)
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cnrm"))
      val ivf = graft.ops.Embeddings.ivfTopK(e, qs, cents, nProbe = 2, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val truth = graft.ops.Embeddings.bruteForceTopK(e, qs, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ivf.join(truth, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          // small-int IEEE division is exactly rounded → engine-identical
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / 3.0).as("recall_at_3"))
        .orderBy(col("query_id"))
    },

    // --- paragraph-level global dedup (C4/MassiveText line dedup):
    //     docs are cut into fixed 20-token chunks, chunks dedup
    //     GLOBALLY by content hash (first occurrence by (doc, idx)
    //     wins), and each doc reports how much of it was already seen
    //     elsewhere. One shuffle on the chunk hash; chunk text never
    //     leaves the map side (only the 16-byte hash shuffles) --------
    "d35_paragraph_dedup" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val chunks = corpusWithPlants(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, cast(ceil(size(toks) / 20.0) as int) - 1),
            |  i -> md5(array_join(slice(toks, i * 20 + 1, 20), ' ')))""".stripMargin))
          .as(Seq("chunk_idx", "h")))
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_idx"))
      chunks.withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("rn") > 1, 1)).as("n_dup_chunks"))
        .withColumn("dup_ratio",
          col("n_dup_chunks").cast(DoubleType) / col("n_chunks").cast(DoubleType))
        .orderBy(col("doc_id"))
    },

    // --- SemDeDup: semantic dedup inside k-means cells. Pairwise
    //     cosine runs only WITHIN a cell — the quadratic stays bounded
    //     by cell size, and at 100 TB the cell count grows with the
    //     corpus (k ∝ n) so cells stay O(1). Exact-int cosine makes the
    //     pair list hash-checkable; planted exact copies (cos = 1)
    //     guarantee non-empty output at every SF --------------------
    "d36_semdedup" -> { (s, d) =>
      val e = quantizedEmbeddings(s, d, plant = true)
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"))
      val assigned = graft.ops.Embeddings.assignToCentroids(e, cents)
        .select(col("vec_id"), col("cent_id"), col("q"), col("nrm"))
      val a = assigned.select(col("cent_id"), col("vec_id").as("a"),
        col("q").as("qa"), col("nrm").as("na"))
      val b = assigned.select(col("cent_id"), col("vec_id").as("b"),
        col("q").as("qb"), col("nrm").as("nb"))
      a.join(b, Seq("cent_id")).where(col("a") < col("b"))
        .withColumn("cos", expr(
          """round(cast(graft_dot_i64(qa, qb) as double)
            | / (sqrt(cast(na as double)) * sqrt(cast(nb as double))), 6)""".stripMargin))
        .where(col("cos") >= 0.98)
        .select(col("cent_id"), col("a"), col("b"), col("cos"))
        .orderBy(col("a"), col("b"))
    },

    // --- Gopher-style rule filtering: the published quality-rule
    //     battery (word count, mean word length, alpha fraction,
    //     stopword floor) as pure per-row expressions — zero shuffles,
    //     scales with the scan ---------------------------------------
    "d37_gopher_rules" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("n_words", size(col("toks")).cast(LongType))
        .withColumn("n_chars",
          expr("aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x)"))
        .withColumn("n_alpha",
          expr("cast(size(filter(toks, t -> t rlike '[a-z]')) as bigint)"))
        .withColumn("n_stop", expr(
          "cast(size(filter(toks, t -> t in ('the','a','of','and','to','in','is','that'))) as bigint)"))
        .select(col("doc_id"), col("n_words"),
          (col("n_words") >= 50 && col("n_words") <= 100000).as("r_word_count"),
          (col("n_chars").cast(DoubleType) / col("n_words") >= 3.0 &&
            col("n_chars").cast(DoubleType) / col("n_words") <= 10.0).as("r_mean_word_len"),
          (col("n_alpha").cast(DoubleType) / col("n_words") >= 0.8).as("r_alpha_frac"),
          (col("n_stop") >= 2).as("r_stopwords"))
        .withColumn("pass",
          col("r_word_count") && col("r_mean_word_len") && col("r_alpha_frac") && col("r_stopwords"))
        .orderBy(col("doc_id"))
    },

    // --- BPE merge-pair counting (the inner loop of tokenizer vocab
    //     training): adjacent-token pair frequencies across the corpus,
    //     top-20 merge candidates. One explode + one groupBy with
    //     map-side combine — the count table is vocabulary², not
    //     corpus-sized, so the shuffle stays bounded at 100 TB --------
    "d38_bpe_pairs" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .where(size(col("toks")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("pair"))
      pairs.withColumn("rank", row_number().over(w).cast(LongType))
        .where(col("rank") <= 20)
        .select(col("rank"), col("pair"), col("cnt"))
        .orderBy(col("rank"))
    },

    // --- deterministic training-order shuffle: every doc gets a
    //     (shard, position) from its id hash — reproducible across
    //     runs, engines, and cluster sizes, no RNG state. The window
    //     sorts WITHIN a shard only, so no global sort exists at any
    //     scale; shards are the unit a trainer streams ---------------
    "d39_training_order" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val h = expr("conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)")
        .cast(LongType)
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(8)))
        .withColumn("pos", row_number().over(w).cast(LongType))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },

    // --- metadata-filtered ANN: the RAG-shaped query — top-k cosine
    //     restricted to candidates passing a metadata predicate. The
    //     filter lands on the candidate SCAN (pushdown), shrinking the
    //     scored set before any ranking work --------------------------
    "d40_ann_filtered" -> { (s, d) =>
      val e = t(s, d, "embeddings")
      val corpus = graft.ops.Embeddings.quantized(e.where(col("label") % 2 === 0))
      val qs = graft.ops.Embeddings.quantized(e.where(col("vec_id") < 10))
      graft.ops.Embeddings.bruteForceTopK(corpus, qs, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // --- token-budget corpus selection: per source, take the
    //     highest-quality docs until the token budget fills (how a
    //     mixture allocation (d31) becomes an actual doc list). One
    //     window per source — cumsum is partition-local, and sources
    //     partition the corpus, so nothing global exists -------------
    "d41_token_budget" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val scored = graft.ops.Corpus.qualityScore(docs)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= 2000)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_kept"),
          max(col("cum_tokens")).as("tokens_kept"),
          min(col("quality")).as("min_quality_kept"))
        .orderBy(col("source"))
    },

    // --- multimodal plumbing: opaque binary + typed metadata + staged
    //     feature extraction. The payloads are REAL PNGs (ImageIO.write
    //     over a closed-form pixel grid) and extractFeatures REALLY
    //     decodes them (ImageIO.read): the features below are luminance
    //     histograms of decoded pixels, which the oracle replays from
    //     the pixel formula — a full codec round-trip check -------------
    "m01_multimodal_features" -> { (s, d) =>
      val blobs = Multimodal.syntheticImageBlobs(
        t(s, d, "documents").select(col("doc_id")))
      Multimodal.extractFeatures(blobs)
        // serialize the feature vector to a scalar at the gate boundary
        // (array output columns are unhashable in the oracle compare)
        .select(col("doc_id"), col("n_bytes"), col("mime"), col("head_hex"),
          col("width"), col("height"),
          concat_ws(",", col("features").cast("array<string>")).as("features_csv"))
        .orderBy(col("doc_id"))
    },

    // --- real decode + resize: 8×8 nearest-neighbor thumbnails ----------
    "m07_multimodal_resize" -> { (s, d) =>
      val blobs = Multimodal.syntheticImageBlobs(
        t(s, d, "documents").select(col("doc_id")))
      Multimodal.resizeThumbnails(blobs, 8, 8)
        .select(col("doc_id"), col("src_w"), col("src_h"), col("mean_luma"),
          concat_ws(",", col("thumb").cast("array<string>")).as("thumb_csv"))
        .orderBy(col("doc_id"))
    },

    // --- container metadata probe WITHOUT decode ------------------------
    "m08_multimodal_header_probe" -> { (s, d) =>
      // The inventory pass that runs before any decode at 100 TB: PNG
      // signature + IHDR width/height/bit-depth/color-type parsed
      // straight from the first 26 payload bytes with codegen'd byte
      // ops (substring/hex/conv) — no codec, no mapPartitions, cost =
      // one scan. The engine parses REAL PNG bytes (ImageIO-encoded);
      // the oracle replays the container spec (big-endian IHDR fields,
      // grayscale 8-bit for TYPE_BYTE_GRAY sources).
      val blobs = Multimodal.syntheticImageBlobs(
        t(s, d, "documents").select(col("doc_id")))
      blobs.select(col("doc_id"),
        lower(hex(expr("substring(payload, 1, 8)"))).as("sig_hex"),
        expr("cast(conv(hex(substring(payload, 17, 4)), 16, 10) as bigint)").as("width"),
        expr("cast(conv(hex(substring(payload, 21, 4)), 16, 10) as bigint)").as("height"),
        expr("cast(conv(hex(substring(payload, 25, 1)), 16, 10) as bigint)").as("bit_depth"),
        expr("cast(conv(hex(substring(payload, 26, 1)), 16, 10) as bigint)").as("color_type"))
        .orderBy(col("doc_id"))
    },

    // --- perceptual-hash near-dup over binary payloads ------------------
    "m04_multimodal_phash_dedup" -> { (s, d) =>
      // Media near-dup at 100 TB: a 60-bit perceptual hash per payload
      // (comparison bits over the luminance histogram of REALLY-decoded
      // PNG pixels — same ImageIO path as m01), banded 4×15 bits so
      // candidate generation is an equi-join; hamming ≤ 3 over 4 bands
      // means one band is clean (pigeonhole), so the band join finds
      // EVERY qualifying pair — never an all-pairs comparison. Corpus:
      // each base image plus a 2-pixel-perturbed variant (bumped=true),
      // the planted near-dup pair.
      val base = t(s, d, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id"))
      val blobs = Multimodal.syntheticImageBlobs(base).unionByName(
        Multimodal.syntheticImageBlobs(base, idOffset = 1000000L, bumped = true))
      val ph = Multimodal.extractFeatures(blobs)
        .select(col("doc_id"), expr(
          """aggregate(sequence(0, 59), 0L, (acc, k) ->
            |  acc + IF(element_at(features, CAST((k*5+1) % 16 AS INT) + 1) >
            |           element_at(features, CAST((k*11+6) % 16 AS INT) + 1),
            |           shiftleft(1L, k), 0L))""".stripMargin).as("ph"))
        .persist()
      val bands = ph.select(col("doc_id"), col("ph"),
          explode(expr("transform(sequence(0, 3), b -> " +
            "named_struct('band', b, 'v', shiftright(ph, 15 * b) & 32767))")).as("bv"))
        .select(col("doc_id"), col("ph"), col("bv.band"), col("bv.v"))
      val cands = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
          col("x.ph").as("ph_a"), col("y.ph").as("ph_b"))
        .distinct()
      val out = cands.withColumn("hamming", expr("CAST(bit_count(ph_a ^ ph_b) AS INT)"))
        .where(col("hamming") <= 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
        .localCheckpoint(true)
      ph.unpersist()
      out
    },

    // --- real audio decode: WAV payloads → PCM amplitude histogram ------
    "m05_multimodal_audio_features" -> { (s, d) =>
      // same round-trip discipline as m01: payloads are REAL WAVs
      // (AudioSystem.write over a closed-form PCM clip), extractFeatures
      // REALLY decodes them (javax.sound.sampled), and the oracle
      // replays the sample formula — any codec drift breaks the gate
      val blobs = Multimodal.syntheticAudioBlobs(
        t(s, d, "documents").select(col("doc_id")))
      Multimodal.extractFeatures(blobs)
        .select(col("doc_id"), col("n_bytes"), col("mime"), col("head_hex"),
          col("width"), col("height"),
          concat_ws(",", col("features").cast("array<string>")).as("features_csv"))
        .orderBy(col("doc_id"))
    },

    // --- audio silence segmentation (loudness gaps-and-islands) ---------
    "m10_audio_silence_segments" -> { (s, d) =>
      // The audio sibling of m09's scene cuts: decode the WAV to PCM
      // (real codec), cut into 64-sample frames, flag frames whose max
      // |amplitude| < 8192 as silent, and report per clip the silent-
      // frame count and the LONGEST silent run (gaps-and-islands over
      // frame_no) — the primitive under silence trimming / VAD
      // pre-filters. Decode is partition-parallel; only slim integer
      // frame stats shuffle through one per-doc window.
      import org.apache.spark.sql.expressions.Window
      val blobs = Multimodal.syntheticAudioBlobs(
        t(s, d, "documents").select(col("doc_id")))
      val frames = Multimodal.segmentAudioFrames(blobs, 64)
        .withColumn("silent", (col("max_abs") < 8192).cast(IntegerType))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
      val runs = frames.where(col("silent") === 1)
        .withColumn("grp", col("frame_no") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
        .groupBy(col("doc_id")).agg(max(col("run_len")).as("max_silent_run"))
      frames.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("silent")).cast(LongType).as("n_silent"))
        .join(runs, Seq("doc_id"), "left")
        .na.fill(0L, Seq("max_silent_run"))
        .orderBy(col("doc_id"))
    },

    // --- audio resampling (linear interpolation, 8 kHz → 12 kHz) --------
    "m12_audio_resample" -> { (s, d) =>
      // Normalizing heterogeneous audio to one training sample rate is
      // the audio analogue of m07's image resize. The WAV really
      // decodes (javax.sound.sampled); the 3/2-rate interpolation is
      // integer-exact declarative array math over u16 samples —
      // r(t) = (u(j)·(3−rem) + u(j+1)·rem) div 3 with j = 2t div 3,
      // rem = 2t mod 3 — entirely inside whole-stage codegen, so the
      // only imperative code is the codec call. No extrapolation past
      // the last sample: n_out = (3·n_in − 4) div 2 + 1. The oracle
      // replays the closed-form PCM clip through the same rationals.
      audioResamplePlan(s, d).orderBy(col("doc_id"))
    },

    // --- real frame extraction from a multi-frame container -------------
    "m06_multimodal_gif_frames" -> { (s, d) =>
      // Animated GIF is the one multi-frame container the JDK decodes:
      // payloads are REAL GIFs over closed-form frames, sampleImageFrames
      // REALLY decodes every 2nd frame, and the oracle replays the pixel
      // formula per (doc, frame) — the decoded-frame counterpart of the
      // byte-sliced m02
      val blobs = Multimodal.syntheticVideoBlobs(
        t(s, d, "documents").where(col("doc_id") % 3 === 0).select(col("doc_id")))
      Multimodal.sampleImageFrames(blobs, stride = 2)
        .select(col("doc_id"), col("frame_no"), col("width"), col("height"),
          concat_ws(",", col("features").cast("array<string>")).as("features_csv"))
        .orderBy(col("doc_id"), col("frame_no"))
    },

    // --- scene-change detection over decoded video frames ---------------
    "m09_video_scene_cuts" -> { (s, d) =>
      // The first real video op after frame extraction: decode EVERY
      // frame of each animated GIF (same JDK reader as m06, stride 1),
      // then a cut where the L1 distance between consecutive frames'
      // luminance histograms exceeds 2/7 of the frame's pixel count —
      // frame-differencing, the classic shot-boundary baseline. Decode
      // is partition-parallel mapPartitions; after it only slim
      // (doc, frame, hist[16]) rows flow through one per-doc window,
      // so at 100 TB the shuffle is frames × 16 longs, never pixels.
      import org.apache.spark.sql.expressions.Window
      val blobs = Multimodal.syntheticVideoBlobs(
        t(s, d, "documents").where(col("doc_id") % 3 === 0).select(col("doc_id")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
      Multimodal.sampleImageFrames(blobs, stride = 1)
        .withColumn("prev", lag(col("features"), 1).over(w))
        .withColumn("delta", when(col("prev").isNull, lit(0L)).otherwise(expr(
          "aggregate(zip_with(features, prev, (a, b) -> abs(a - b)), 0L, (acc, x) -> acc + x)")))
        .withColumn("npix", (col("width") * col("height")).cast(LongType))
        .withColumn("is_cut",
          (col("prev").isNotNull && col("delta") * 7 > col("npix") * 2).cast(IntegerType))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("is_cut")).cast(LongType).as("n_cuts"),
          sum(col("delta")).as("sum_delta"),
          min(when(col("is_cut") === 1, col("frame_no"))).cast(LongType).as("first_cut_frame"))
        .orderBy(col("doc_id"))
    },

    // --- video-level dedup via pooled frame features -------------------
    "m11_video_pooled_dedup" -> { (s, d) =>
      // Re-uploaded videos (identical bytes, new id — planted here as
      // payload copies under id+3,000,000) collapse by a VIDEO-level
      // signature: decode every frame (real JDK GIF reader), sum-pool
      // the 16-bin luma histograms across frames, md5 the pooled
      // vector. Pooling is the standard trick for clip-level features
      // from frame-level ones; the signature groupBy is the same
      // hash-dedup shape as d01. After decode only (doc, k, v) longs
      // shuffle — never pixels — and the cluster table is video-sized.
      val base = Multimodal.syntheticVideoBlobs(
        t(s, d, "documents").where(col("doc_id") % 3 === 0).select(col("doc_id")))
      val planted = base.where(col("doc_id") % 30 === 0)
        .withColumn("doc_id", col("doc_id") + 3000000L)
      val frames = Multimodal.sampleImageFrames(base.unionByName(planted), stride = 1)
      frames
        .select(col("doc_id"), posexplode(col("features"))).toDF("doc_id", "k", "v")
        .groupBy(col("doc_id"), col("k")).agg(sum(col("v")).as("pv"))
        .groupBy(col("doc_id"))
        .agg(expr(
          "concat_ws(',', transform(array_sort(collect_list(struct(k, pv))), s -> cast(s.pv as string)))")
          .as("pooled_csv"))
        .withColumn("sig", md5(col("pooled_csv")))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("n_videos"), min(col("doc_id")).as("keep_id"),
          expr("concat_ws(',', transform(array_sort(collect_list(doc_id)), x -> cast(x as string)))")
            .as("ids_csv"))
        .where(col("n_videos") > 1)
        .orderBy(col("sig"))
    },

    // --- batched inference over opaque payloads (GPU batch shape) -----
    "m03_multimodal_batched_inference" -> { (s, d) =>
      val blobs = t(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.batchedInference(blobs, batchSize = 32)
        .orderBy(col("doc_id"))
    },

    // --- DSIR-style hashed n-gram importance weights --------------------
    "d42_dsir_importance" -> { (s, d) =>
      // Data Selection via Importance Resampling (Xie et al. 2023)
      // restated with exact integer math: unigrams hash into 1024
      // buckets, the target distribution is the en subset, and a doc's
      // importance is the sum over its token instances of the scaled
      // integer ratio (tgt+1)·10⁶ div (src+1) — add-one smoothed, no
      // floats, so the ranking is engine-exact. The bucket-weight table
      // is vocabulary-sized (1024 rows) and broadcast; the scoring pass
      // is one map-side join + one shuffle on doc_id, which is the
      // whole-corpus cost at 100 TB.
      graft.functions.BitSketchExpressions.register(s)
      val toks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .withColumn("b", expr("graft_md5_60(tok) % 1024"))
        .persist()
      val src = toks.groupBy(col("b")).agg(count(lit(1)).as("sc"))
      val tgt = toks.where(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val wts = src.join(tgt, Seq("b"), "left")
        .select(col("b"), expr("((coalesce(tc, 0L) + 1) * 1000000) div (sc + 1)").as("wt"))
      val out = toks.join(broadcast(wts), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("wt")).as("importance"), count(lit(1)).as("n_toks"))
        .orderBy(col("importance").desc, col("doc_id"))
        .limit(20)
        .localCheckpoint(true)
      toks.unpersist()
      out
    },

    // --- asymmetric containment dedup (doc-inside-doc) ------------------
    "d43_containment_dedup" -> { (s, d) =>
      // Jaccard misses the quote-and-comment case: a short article
      // embedded in a longer wrapper has low Jaccard but containment
      // |A∩B|/|A| ≈ 1. Candidates come from a shingle inverted index
      // with stop-shingle pruning — shingles in more than 32 docs are
      // dropped BEFORE pairing (CCNet-style), so per-shingle fan-out is
      // bounded by the df cap, not the hottest template phrase; set
      // sizes and the containment measure are over the same pruned
      // space, keeping the ratio meaningful. Planted wrappers
      // (doc % 7 == 0 → text + appended commentary, id + 4,000,000)
      // make the output self-evident at every SF. Candidate generation
      // is [[graft.ops.TextDedup.containmentPairs]] — saturating
      // capped-list aggregate (one shuffle, buffers bounded at
      // dfCap+1), locally-generated ordered pairs (Scaladoc there).
      val docs = t(s, d, "documents")
      val wrappers = docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 4000000L)
        .withColumn("text", concat(col("text"),
          lit(" editorial commentary appended after the quoted article body ends here")))
      val corpus = docs.unionByName(wrappers)
      // sampleMod=4: content-defined shingle sampling — postings (and
      // the Σdf² pair fan-out) shrink 4×, the sampled containment
      // measure is deterministic and oracle-replicated (op Scaladoc)
      graft.ops.TextDedup.containmentPairs(corpus, sampleMod = 4)
        .orderBy(col("contained_id"), col("container_id"))
    },

    // --- LSH candidate recall (the d34 of text dedup) -------------------
    "d44_lsh_recall" -> { (s, d) =>
      // Candidate-generation QA for the MinHash index: of the true
      // near-dup pairs (blocked exact Jaccard ≥ 0.5), what fraction did
      // the 8×4 banding surface as candidates? This is the number that
      // chooses bands×rows for a corpus, exactly as d34's recall@k
      // chooses nProbe for the IVF index. Both sides are md5-exact, so
      // the recall itself is hash-checked against the oracle.
      // ONE shared shingle+sketch pass feeds both the truth pairs and
      // the banded candidates ([[graft.ops.TextDedup.lshRecall]]) —
      // running jaccardPairs and minhashLshPairs as independent ops
      // re-shingled the corpus per pass (VERDICT r7 perf flag)
      graft.ops.TextDedup.lshRecall(corpusWithPlants(s, d))
    },

    // --- canonical-URL dedup (the first pass of a web pipeline) ---------
    "d57_quality_calibration" -> { (s, d) =>
      // Cross-source score calibration: raw quality scores aren't
      // comparable across crawls/sources, so a global keep-threshold
      // must act on the per-source RANK of a doc, not its raw score.
      // percent_rank over (score, doc_id) — the tie-break makes the
      // rank total and engine-identical; (rank-1)/(n-1) is one exact-int
      // IEEE division, so the doubles hash-match cross-engine. One
      // window shuffle per source at 100 TB, no global sort.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("pr", percent_rank().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("pr") >= 0.5, 1)).as("n_kept"),
          min(when(col("pr") >= 0.5, col("doc_id"))).as("min_kept_doc"),
          max(when(col("pr") >= 0.5, col("n_chars"))).as("max_kept_chars"))
        .orderBy(col("source"))
    },

    "d56_leakage_safe_split" -> { (s, d) =>
      // Train/validation split assigned at the DOMAIN level: every doc
      // of a domain lands in the same split (hash of the domain, not
      // the doc), so near-duplicate pages from one site can't straddle
      // train and eval — the split discipline that makes decontamination
      // meaningful. Gate carries a purity witness: the max number of
      // distinct splits any domain touches must be 1.
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("site"), (col("doc_id") % 37).cast("string"), lit(".org"))
          .as("domain"))
      val split = docs.withColumn("split",
        when(expr("CAST(conv(substring(md5(domain), 1, 15), 16, 10) AS BIGINT) % 100") < 90,
          "train").otherwise("val"))
      val purity = split.groupBy(col("domain"))
        .agg(countDistinct(col("split")).as("n_splits"))
        .agg(max(col("n_splits")).as("max_splits_per_domain"))
      split.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("domain")).as("n_domains"))
        .crossJoin(broadcast(purity))
        .orderBy(col("split"))
    },

    "d55_domain_blocklist" -> { (s, d) =>
      // RefinedWeb/CCNet-style URL filtering: block a document when its
      // host OR ANY parent domain is blocklisted. The 100 TB shape:
      // explode each host into its suffix chain (bounded by label count,
      // ≤4 here) and EQUI-join the broadcast blocklist — never a LIKE /
      // suffix-predicate join, which would be cartesian at scale.
      import s.implicits._
      val hosts = t(s, d, "documents").where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(lit("a"), (col("doc_id") % 3).cast("string"),
            lit(".b"), (col("doc_id") % 5).cast("string"),
            lit(".site"), (col("doc_id") % 10).cast("string"),
            lit(".org")).as("host"))
      val block = Seq("site3.org", "b2.site7.org", "a0.b1.site4.org", "badhost.net")
        .toDF("domain")
      val blockedIds = hosts
        .withColumn("parts", split(col("host"), "\\."))
        .withColumn("suffix", explode(expr(
          "transform(sequence(1, size(parts)), i -> array_join(slice(parts, i, size(parts) - i + 1), '.'))")))
        .join(broadcast(block), col("suffix") === col("domain"), "left_semi")
        .select(col("doc_id")).distinct()
      hosts.join(blockedIds.withColumnRenamed("doc_id", "bid"),
          col("doc_id") === col("bid"), "left")
        .select(col("doc_id"), col("host"), col("bid").isNotNull.as("blocked"))
        .orderBy(col("doc_id"))
    },

    "d45_url_dedup" -> { (s, d) =>
      // RefinedWeb-style: dedupe by canonical URL before any content
      // hashing. Canonicalization: scheme normalized, host lowercased
      // and www-stripped, query/fragment dropped, trailing slash
      // removed. The planted URLs (doc_id-derived, like d23's) carry
      // exactly the variations canonicalization must collapse.
      val docs = t(s, d, "documents")
      val withUrl = docs.where(col("doc_id") % 3 === 0).select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0, lit("HTTPS://WWW."))
            .when(col("doc_id") % 4 === 1, lit("https://www."))
            .otherwise(lit("https://")),
          lit("site"), (col("doc_id") % 20).cast("string"), lit(".example.org/page"),
          when(col("doc_id") % 4 === 2, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 4 === 3, lit("?utm_source=feed&ref=rss"))
            .otherwise(lit(""))).as("url"))
      withUrl
        .withColumn("host", regexp_replace(
          lower(regexp_extract(col("url"), "^(?i)https?://([^/?#]+)", 1)),
          "^www\\.", ""))
        .withColumn("path", regexp_replace(
          regexp_extract(col("url"), "^(?i)https?://[^/?#]+([^?#]*)", 1), "/$", ""))
        .withColumn("canonical", concat(lit("https://"), col("host"), col("path")))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keep_doc"))
        .orderBy(col("canonical"))
    },

    // --- linear classifier inference (fasttext-style filter apply) -----
    "d51_classifier_score" -> { (s, d) =>
      // [[graft.ops.Corpus.linearScore]] with a deterministic stand-in
      // weight table (md5-derived ints in [-1000, 1000] — in
      // production these are trained weights loaded from a table; the
      // broadcast-join shape is identical). Exact integer margins
      // hash-check against the oracle.
      graft.functions.BitSketchExpressions.register(s)
      val weights = s.range(0, 4096).toDF("bucket")
        .withColumn("w", expr("graft_md5_60(concat('w-', cast(bucket as string))) % 2001 - 1000"))
      graft.ops.Corpus.linearScore(t(s, d, "documents"), weights)
        .orderBy(col("doc_id"))
    },

    // --- embedding outlier detection (noise filtering pre-training) ----
    "d53_embedding_outliers" -> { (s, d) =>
      // Vectors far from their nearest IVF centroid are crawl noise /
      // embedding failures — flag everything past the per-cell p75
      // distance. Exact-int L2² + quarter-fraction interpolated
      // percentile keep every number engine-identical, so the outlier
      // decisions themselves hash-check. Per-cell aggregate only; the
      // corpus shuffles slim (vec_id, cent_id, dist) rows once.
      val e = quantizedEmbeddings(s, d, plant = false)
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cnrm"))
      val assigned = graft.ops.Embeddings.assignToCentroids(e, cents)
        .select(col("vec_id"), col("cent_id"), col("dist"))
      val thr = assigned.groupBy(col("cent_id"))
        .agg(expr("percentile(dist, 0.75)").as("p75"))
      assigned.join(thr, "cent_id")
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vectors"), max(col("p75")).as("p75"),
          count(when(col("dist").cast(DoubleType) > col("p75"), 1)).as("n_outliers"),
          max(col("dist")).as("max_dist"),
          min(when(col("dist").cast(DoubleType) > col("p75"), col("vec_id"))).as("first_outlier"))
        .orderBy(col("cent_id"))
    },

    // --- sketch mergeability: union MinHash via elementwise min --------
    "d52_sketch_union_merge" -> { (s, d) =>
      // THE property that makes sketches work at 100 TB:
      // minhash(A ∪ B) = elementwise-min(minhash(A), minhash(B)), so
      // per-source union sketches fold from per-doc sketches with a
      // plain (map-side-combinable) min aggregate — no re-scan of the
      // docs. Source-pair Jaccard is then estimated from 32-long
      // sketches; the exact shingle-set Jaccard rides along as
      // accuracy evidence, both hash-checked.
      val docs = t(s, d, "documents")
      val sh = graft.ops.TextDedup.shingled(docs)
        .select(col("source"), col("shingles"))
        .withColumn("mh", expr("graft_minhash32(shingles)"))
        .persist()
      val sk = sh
        .select(col("source"), posexplode(col("mh")).as(Seq("pos", "v")))
        .groupBy(col("source"), col("pos")).agg(min(col("v")).as("mv"))
        .groupBy(col("source"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), x -> x.mv)").as("sk"))
      val ex = sh.select(col("source"), explode(col("shingles")).as("g")).distinct().persist()
      val sizes = ex.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val shared = ex.withColumnRenamed("source", "sa")
        .join(ex.withColumnRenamed("source", "sb"), "g")
        .where(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("shared"))
      val out = sk.select(col("source").as("sa"), col("sk").as("ska"))
        .crossJoin(sk.select(col("source").as("sb"), col("sk").as("skb")))
        .where(col("sa") < col("sb"))
        .join(shared, Seq("sa", "sb"), "left")
        .join(sizes.select(col("source").as("sa"), col("n").as("na")), "sa")
        .join(sizes.select(col("source").as("sb"), col("n").as("nb")), "sb")
        .select(col("sa"), col("sb"),
          expr("cast(aggregate(zip_with(ska, skb, (x, y) -> if(x = y, 1, 0)), 0, (a, x) -> a + x) as double) / 32.0")
            .as("est_jaccard"),
          (coalesce(col("shared"), lit(0L)).cast(DoubleType)
            / (col("na") + col("nb") - coalesce(col("shared"), lit(0L))).cast(DoubleType))
            .as("jaccard"))
        .orderBy(col("sa"), col("sb"))
        .localCheckpoint(true)
      ex.unpersist()
      sh.unpersist()
      out
    },

    // --- Bloom-filter membership dedup (broadcast, shuffle-free) -------
    "d50_bloom_dedup" -> { (s, d) =>
      // [[graft.ops.TextDedup.bloomDedupStats]] over the d30 split:
      // history = 3/4 of the corpus, new batch = fresh docs + exact
      // re-crawls. The exact-dup count is oracle-replayed; the Bloom
      // guarantees (no false negatives, fp count within the sized
      // bound) are pinned booleans.
      val docs = t(s, d, "documents")
      val history = docs.where(col("doc_id") % 4 =!= 0)
      val newBatch = docs.where(col("doc_id") % 4 === 0)
        .unionByName(history.where(col("doc_id") % 8 === 1)
          .withColumn("doc_id", col("doc_id") + 2000000L))
      graft.ops.TextDedup.bloomDedupStats(history, newBatch)
    },

    // --- BM25 term ranking (tf-idf with length normalization) ----------
    "d46_bm25_terms" -> { (s, d) =>
      // [[graft.ops.Corpus.bm25Terms]]: top-3 BM25 terms per doc with
      // the rational-idf variant — the DOUBLE scores come from IEEE
      // + − × / on exact ints only, so they hash-match the oracle.
      graft.ops.Corpus.bm25Terms(t(s, d, "documents"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // --- exact-substring (rolling-window) dedup ------------------------
    "d47_span_dedup" -> { (s, d) =>
      // [[graft.ops.TextDedup.spanPairs]] — ExactSubstr-style span
      // sharing with content-defined 1-in-4 window sampling (both docs
      // of a shared span sample identically, so the oracle replays the
      // sampling exactly). Plants: a copy reusing each 11th doc's
      // first 40 tokens with a distinct tail — up to 33 shared
      // windows, ~8 surviving the sampling (short docs may sample
      // below minShared; deterministic either way).
      spanDedupPlan(s, d, materialize = true).orderBy(col("a"), col("b"))
    },

    // --- duplicated-span REMOVAL (ExactSubstr's second half) -----------
    "d54_span_removal" -> { (s, d) =>
      // Detection (d47) says which docs share spans; removal says which
      // TOKENS to drop: every token covered by an 8-token window whose
      // first (min-id) occurrence is in another doc. No pair join
      // exists in this op at all — ownership is one min-aggregate on
      // (window-hash, doc_id) and coverage is a distinct-position
      // count, so it scales strictly better than detection. Plants:
      // each 9th doc gets a prefixed near-copy whose quoted body must
      // be removed (owner = the original).
      val docs = t(s, d, "documents")
      val planted = docs.where(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 6000000L)
        .withColumn("text", concat(
          lit("prefix marker words here then quoted body follows "), col("text")))
      graft.functions.BitSketchExpressions.register(s)
      // ONE corpus scan, no persist/join/distinct: ownership is a
      // min-over-window on the wh partition (replacing the
      // aggregate-and-rejoin), and per-doc coverage folds into a single
      // aggregation whose value is the distinct removed-position count.
      // Plan: scan → explode → shuffle(wh) window → shuffle(doc_id) agg
      // → sort. Position arrays are bounded by 8× the doc's own window
      // count — per-doc state, like the tokenization ops.
      val wins = docs.unionByName(planted)
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .where(size(col("toks")) >= 8)
        .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_toks"),
          posexplode(expr(
            "graft_rolling8(transform(toks, t -> graft_md5_60(t) % 2147483647))"))
            .as(Seq("pos", "wh")))
      val owned = wins.withColumn("owner",
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("wh"))))
      owned
        .select(col("doc_id"), col("n_toks"),
          when(col("owner") < col("doc_id"),
            expr("sequence(pos + 1, pos + 8)"))
            .otherwise(expr("array()")).as("ps"))
        .groupBy(col("doc_id"))
        .agg(first(col("n_toks")).as("n_toks"),
          size(array_distinct(flatten(collect_list(col("ps")))))
            .cast(LongType).as("n_removed"))
        .withColumn("keep_fraction",
          (col("n_toks") - col("n_removed")).cast(DoubleType)
            / col("n_toks").cast(DoubleType))
        .select(col("doc_id"), col("n_toks"), col("n_removed"), col("keep_fraction"))
        .orderBy(col("doc_id"))
    },

    // --- weighted sampling without replacement (sequential Poisson) ----
    "d48_weighted_sample" -> { (s, d) =>
      // [[graft.ops.Corpus.weightedSample]]: 5 docs per language,
      // char-length-weighted, priority = hash-uniform / weight — the
      // deterministic draw that needs no RNG state and reproduces on
      // any cluster size.
      graft.ops.Corpus.weightedSample(t(s, d, "documents"), "lang",
          col("n_chars"), k = 5)
        .orderBy(col("lang"), col("rank"))
    },

    // --- fixed-size overlapping token chunks (training windows) --------
    "d49_token_chunking" -> { (s, d) =>
      // [[graft.ops.Corpus.chunked]]: 64-token chunks, 16-token
      // overlap. Per-row explode+slice only — scales with the scan.
      graft.ops.Corpus.chunked(t(s, d, "documents"),
          chunkTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // --- frame sampling over opaque payloads (video/audio shape):
    //     fixed-size frames, every 2nd kept, one row per frame ---------
    "m02_multimodal_frames" -> { (s, d) =>
      val blobs = t(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.sampleFrames(blobs, frameSize = 64, stride = 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled_frames"),
          sum(col("frame_bytes")).as("sampled_bytes"),
          min(col("digest")).as("min_digest"))
        .orderBy(col("doc_id"))
    },

    // --- corpus-LM familiarity scoring (the CCNet/KenLM quality pass):
    //     a bigram model trained ON the corpus scores each document by
    //     how much of it the model has seen elsewhere. Perplexity uses
    //     log(), whose low bits differ across libm builds, so the score
    //     is kept rational: integer occurrence counts + ONE IEEE
    //     division per doc (exactly rounded in every engine). At 100 TB
    //     the count table is vocabulary², Zipf-concentrated; the
    //     familiar SET (count ≥ corpus mean) is far smaller than the
    //     corpus and joins on the bigram shuffle key — never a broadcast
    //     of corpus-sized state, never a second scan of `text` ----------
    "d59_ngram_familiarity" -> { (s, d) =>
      // The text is exploded ONCE into per-(bigram, doc) occurrence
      // counts (map-side combined); everything downstream — corpus
      // counts, the familiarity threshold, the per-doc re-aggregation —
      // runs over those slim integer rows, with the shared subplans
      // collapsing into reused exchanges (PlanAuditSpec asserts it).
      val occ = t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks)-1),
            |  i -> concat(element_at(toks,i), ' ',  element_at(toks,i+1)))""".stripMargin))
          .as("bigram"))
        .groupBy(col("bigram"), col("doc_id"))
        .agg(count(lit(1)).as("k"))
      val cf = occ.groupBy(col("bigram")).agg(sum(col("k")).as("cf"))
      // familiar = above the corpus MEAN count (cf · n_types ≥ total
      // occurrences) — scale-relative, so the cut moves with corpus
      // size, and integer-exact, so no float threshold to disagree on.
      // The 1-row stats frame broadcasts.
      val stats = cf.agg(count(lit(1)).as("n_types"), sum(col("cf")).as("total_occ"))
      occ.join(cf, Seq("bigram"))
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          sum(when(col("cf") * col("n_types") >= col("total_occ"), col("k"))
            .otherwise(lit(0L))).as("n_familiar"))
        .withColumn("familiarity",
          col("n_familiar").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
        .orderBy(col("doc_id"))
    },

    // --- Z-order (Morton) layout keys: multi-dimensional clustering so
    //     parquet min/max row-group stats prune on BOTH dims at once —
    //     the standard 100 TB answer to "queries filter on customer OR
    //     date, but the table can only be sorted one way". The gate
    //     hash-checks the bit-interleave math + per-bucket dimension
    //     spans (each 1/64th z-bucket covers a bounded x AND y range);
    //     ZOrderLayoutSpec writes the actual repartitionByRange layout
    //     and asserts the per-file span contraction ---------------------
    "d60_zorder_layout" -> { (s, d) =>
      val dims = t(s, d, "orders").select(
        pmod(col("o_custkey"), lit(1024)).cast(LongType).as("x"),
        expr("datediff(o_orderdate, DATE'1995-01-01') div 4").cast(LongType).as("y"))
      dims
        .withColumn("z", zorderKey(col("x"), col("y")))
        .withColumn("z_bucket", expr("z div 16384"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("z_bucket"))
    },

    // --- RAG-style sentence-boundary chunk packing: sentences (not
    //     token offsets, like d49) pack into ~64-token chunks — a
    //     sentence opens a new chunk when the running token count
    //     crosses the boundary, so no sentence is ever split. One
    //     posexplode + one window shuffle on doc_id; chunk ids are
    //     integer prefix-sum math, so the whole layout hash-checks
    //     cross-engine. At 100 TB this scales with the scan: per-doc
    //     state never leaves its partition ----------------------------
    "d62_sentence_pack_chunks" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sents = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), "\\.")))
        .withColumnRenamed("pos", "idx")
        .withColumn("sent", trim(col("col")))
        .where(length(col("sent")) > 0)
        .select(col("doc_id"), col("idx").cast(LongType).as("idx"),
          size(split(col("sent"), "\\s+")).cast(LongType).as("n_toks"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      sents.withColumn("cum", sum(col("n_toks")).over(w))
        .withColumn("chunk_id", expr("(cum - n_toks) div 64"))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n_sentences"), sum(col("n_toks")).as("chunk_toks"),
          min(col("idx")).as("first_sent"), max(col("idx")).as("last_sent"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // --- cross-split leakage audit: near-dup pairs (d07's exact
    //     MinHash-LSH pipeline) joined against the domain-level
    //     train/val assignment (d56's hash) — a surviving cross-split
    //     pair is leakage a doc-level split would miss, the audit run
    //     before any eval on held-out data. The pair side stays
    //     LSH-banded (never all-pairs); the split side is a slim
    //     (doc, split) projection joined twice on the pair keys -------
    "d63_cross_split_leakage" -> { (s, d) =>
      val corpus = corpusWithPlants(s, d)
      val splits = corpus.select(col("doc_id"),
          concat(lit("site"), (col("doc_id") % 37).cast(StringType), lit(".org"))
            .as("domain"))
        .select(col("doc_id"),
          when(expr("CAST(conv(substring(md5(domain), 1, 15), 16, 10) AS BIGINT) % 100") < 90,
            lit("train")).otherwise(lit("val")).as("split"))
      graft.ops.TextDedup.minhashLshPairs(corpus).select(col("a"), col("b"))
        .join(splits.select(col("doc_id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(splits.select(col("doc_id").as("b"), col("split").as("split_b")), Seq("b"))
        .select(col("a"), col("b"), col("split_a"), col("split_b"),
          (col("split_a") =!= col("split_b")).as("cross_split"))
        .orderBy(col("a"), col("b"))
    },

    // --- two-phase annealed data mixture: epoch 0 samples sources by
    //     token share (coverage), the final epoch by quality share
    //     (docs passing the stopword floor), intermediate epochs
    //     interpolate linearly — the pretrain→anneal curriculum
    //     schedule. Every share divides exact-int sums and the
    //     interpolation is a fixed-order two-term sum, so the DOUBLE
    //     weights are bit-stable cross-engine. Per-source aggregates
    //     are vocabulary-sized; epochs explode only that tiny side ----
    "d64_anneal_mixture" -> { (s, d) =>
      val per = t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("n_toks", size(col("toks")).cast(LongType))
        .withColumn("is_q", expr(
          "size(filter(toks, t -> t in ('the','a','of','and','to','in','is','that'))) >= 2"))
        .groupBy(col("source"))
        .agg(sum(col("n_toks")).as("tokens"),
          sum(when(col("is_q"), lit(1L)).otherwise(lit(0L))).as("n_quality"))
      val tot = per.agg(sum(col("tokens")).as("tot_tokens"),
        sum(col("n_quality")).as("tot_quality"))
      per.crossJoin(broadcast(tot))
        .withColumn("epoch", explode(expr("sequence(0, 3)")))
        .withColumn("w_raw",
          ((lit(3) - col("epoch")) * (col("tokens").cast(DoubleType) / col("tot_tokens").cast(DoubleType))
            + col("epoch") * (col("n_quality").cast(DoubleType) / col("tot_quality").cast(DoubleType))) / lit(3))
        .select(col("epoch"), col("source"), col("tokens"), col("n_quality"),
          round(col("w_raw"), 6).as("weight"),
          round(col("w_raw") * lit(1.0e7)).cast(LongType).as("alloc_tokens"))
        .orderBy(col("epoch"), col("source"))
    },

    // --- cluster-balanced diversity sampling: cap every SRP-LSH
    //     semantic bucket at 4 vectors, chosen by a deterministic
    //     content hash — the scale answer to "dedup is done but the
    //     corpus is still 80 % one topic". One window shuffle on the
    //     16-bit bucket key; no centroids, no pairwise stage, so it
    //     runs where k-means diversity selection can't ----------------
    "d65_cluster_balanced_sample" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = quantizedEmbeddings(s, d, plant = false)
        .withColumn("sig", expr("graft_srp_sig(q)"))
      val w = Window.partitionBy(col("sig"))
        .orderBy(expr("md5(cast(vec_id as string))"), col("vec_id"))
      e.withColumn("rn", row_number().over(w))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("rn") <= 4, lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(when(col("rn") <= 4, col("vec_id"))).as("kept_id_sum"))
        .orderBy(col("sig"))
    },

    // --- C4-style line-level filtering: deterministic line segmentation
    //     (doc-dependent width, so the tail line is genuinely short),
    //     per-line rules (min length, blocklist token, must contain a
    //     stopword — the C4 heuristics re-keyed to this corpus's
    //     vocabulary), then GLOBAL first-occurrence line dedup (C4's
    //     three-sentence-span rule at line granularity) and per-doc
    //     reconstruction. Drop accounting is first-matching-rule. At
    //     100 TB: one shuffle on the line text for the dedup window, a
    //     co-located (doc_id, ln) join back, one doc-level agg — the
    //     d35 paragraph-dedup scale shape with filtering fused in ------
    "d66_c4_line_filter" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lines = t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("lw", (lit(5) + col("doc_id") % 7).cast(IntegerType))
        .withColumn("n_lines",
          expr("(size(toks) + lw - 1) div lw").cast(LongType))
        .withColumn("ln", explode(expr("sequence(0L, n_lines - 1)")))
        .withColumn("line_toks", expr("slice(toks, int(ln) * lw + 1, lw)"))
        .withColumn("line", concat_ws(" ", col("line_toks")))
        .withColumn("n_lt", size(col("line_toks")).cast(LongType))
        .withColumn("r_short", col("n_lt") < 4)
        .withColumn("r_block", expr("array_contains(line_toks, 'slow')"))
        .withColumn("r_nostop",
          expr("NOT arrays_overlap(line_toks, array('a', 'the', 'is'))"))
        .select(col("doc_id"), col("ln"), col("line"),
          col("r_short"), col("r_block"), col("r_nostop"))
      val elig = lines
        .where(!col("r_short") && !col("r_block") && !col("r_nostop"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("line")).orderBy(col("doc_id"), col("ln"))))
        .select(col("doc_id"), col("ln"), col("rn"))
      lines.join(elig, Seq("doc_id", "ln"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rn") === 1, lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(when(col("r_short"), lit(1L)).otherwise(lit(0L))).as("n_drop_short"),
          sum(when(!col("r_short") && col("r_block"), lit(1L)).otherwise(lit(0L)))
            .as("n_drop_block"),
          sum(when(!col("r_short") && !col("r_block") && col("r_nostop"), lit(1L))
            .otherwise(lit(0L))).as("n_drop_nostop"),
          sum(when(col("rn") > 1, lit(1L)).otherwise(lit(0L))).as("n_drop_dup"),
          md5(concat_ws("\n", expr(
            "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN struct(ln, line) END)), x -> x.line)")))
            .as("kept_hash"))
        .orderBy(col("doc_id"))
    },

    // --- BPE tokenizer TRAINING (not just one pair round like d38):
    //     fully distributed in ops/Corpus.bpeTrain (r9/r10 ask) — the
    //     corpus reduces to a capped word-count vocabulary and each
    //     greedy merge round is a distributed pair-count argmax; only
    //     ONE winning row reaches the driver per round ---------
    "d67_bpe_train" -> { (s, d) =>
      graft.ops.Corpus.bpeTrain(t(s, d, "documents"), rounds = 6)
        .orderBy(col("merge_rank"))
    },

    // --- n-gram novelty: per doc, the share of its DISTINCT 3-grams
    //     whose global first occurrence (min doc_id) is this doc — the
    //     curation-order novelty curve that shows where a crawl stops
    //     contributing new content. All integer math; two gram-hash
    //     shuffles (first-seen agg + co-located join back) and a doc
    //     agg — slim (gram, doc) rows only, like d35/d59 ---------------
    "d68_ngram_novelty" -> { (s, d) =>
      val grams = t(s, d, "documents")
        .select(col("doc_id"), explode(expr(
          // CASE guard: Spark's sequence(1, n) runs DESCENDING for n < 1
          "CASE WHEN size(split(text, ' ')) < 3 THEN array() " +
            "ELSE array_distinct(transform(sequence(1, size(split(text, ' ')) - 2), " +
            "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))) END")).as("gram"))
      // first-occurrence attribution via a whole-partition window min:
      // ONE shuffle on gram, no groupBy + join-back (which replays the
      // gram explode — the executed plan showed the corpus scanned
      // twice with zero exchange reuse)
      import org.apache.spark.sql.expressions.Window
      grams
        .withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy(col("gram"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), lit(1L)).otherwise(lit(0L)))
            .as("n_novel"))
        .withColumn("mostly_stale", col("n_novel") * 2 < col("n_grams"))
        .orderBy(col("doc_id"))
    },

    // --- UniMax-style token budget allocation: waterfill a global
    //     budget (2/3 of corpus tokens) over sources capped at each
    //     source's available tokens. Ascending-capacity window cumsums
    //     find the cutoff with EXACT integer cross-multiplication (no
    //     iterative loop, no floats until the final level division),
    //     then allocation = min(capacity, level) in integer division.
    //     Vocabulary-sized aggregate — the corpus scan is the only
    //     data-sized stage ------------------------------------------
    "d69_unimax_allocation" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val caps = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast(LongType)).as("cap_tokens"))
      val w = Window.orderBy(col("cap_tokens"), col("source"))
      val tot = caps.agg(expr("sum(cap_tokens) * 2 div 3").as("budget"),
        count(lit(1)).as("n_src"))
      val ranked = caps.crossJoin(broadcast(tot))
        .withColumn("rank_asc", row_number().over(w))
        .withColumn("prefix",
          coalesce(sum(col("cap_tokens")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("r_remaining", col("n_src") - col("rank_asc") + 1)
        // uncapped iff this source's full capacity would overshoot the
        // even split of what's left: cap * remaining > budget - prefix.
        // Ascending capacities make the uncapped set a suffix, and
        // budget < total guarantees it is non-empty, so the FIRST
        // uncapped row k fixes the shared water level for the suffix
        .withColumn("uncapped",
          col("cap_tokens") * col("r_remaining") > col("budget") - col("prefix"))
      val cutoff = ranked.where(col("uncapped"))
        .orderBy(col("rank_asc")).limit(1)
        .select(col("rank_asc").as("k"),
          expr("(budget - prefix) div r_remaining").as("level_tokens"))
      ranked.crossJoin(broadcast(cutoff))
        .withColumn("capped", col("rank_asc") < col("k"))
        .withColumn("alloc_tokens",
          when(col("capped"), col("cap_tokens")).otherwise(col("level_tokens")))
        .select(col("source"), col("cap_tokens"),
          col("rank_asc").cast(LongType).as("rank_asc"),
          col("alloc_tokens"), col("capped"))
        .orderBy(col("rank_asc"))
    },

    // --- link-graph domain centrality (PageRank) ------------------------
    "d70_domain_pagerank" -> { (s, d) =>
      // Web-corpus curation weights documents by the standing of their
      // host domain (the CommonCrawl domain-rank pass). Links are
      // regexp-extracted from the text (d23's planted URLs), collapsed
      // to a DISTINCT slim (src, dst) domain edge list, and ranked with
      // 3 PageRank iterations. All arithmetic is scaled-integer (rank
      // starts at 1e9, contributions use `div`, damping is
      // 15%+85%·inc div 100), so every engine computes bit-identical
      // longs — sums of longs commute, unlike doubles. Each iteration
      // shuffles only (domain, rank) rows: at 100 TB the edge list is
      // domain-granular (millions of rows, not documents), the
      // extraction scales with the scan, and nothing touches the driver.
      val ur = "https?://([A-Za-z0-9.-]+)"
      val edges = t(s, d, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://site"), col("doc_id") % 20, lit(".example.org/page")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" ref http://www.ref"), col("doc_id") % 7, lit(".net/x?id="), col("doc_id")))
            .otherwise(lit(""))))
        .withColumn("src", concat(lit("site"), col("doc_id") % 20, lit(".example.org")))
        .select(col("src"), explode(regexp_extract_all(col("text2"), lit(ur), lit(1))).as("dst"))
        .where(col("src") =!= col("dst"))
        // the regex-extraction scan feeds nodes, outDeg, inDeg and all
        // 3 rank rounds; without the eager checkpoint the lazy lineage
        // re-ran the documents scan once per consumer (guide §1.2:
        // don't recompute). The checkpointed frame is the slim DISTINCT
        // (src, dst) domain edge list only. Checkpoints.cut = reliable
        // checkpoint when a dir is configured, localCheckpoint locally.
        .distinct().transform(df => graft.core.Checkpoints.cut(df))
      val nodes = edges.select(col("src").as("domain"))
        .union(edges.select(col("dst"))).distinct()
      val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      var ranks = nodes.withColumn("rank", lit(1000000000L))
      for (_ <- 1 to 3) {
        val inc = edges
          .join(ranks.withColumnRenamed("domain", "src"), "src")
          .join(outDeg, "src")
          .select(col("dst"), expr("rank div out_deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
        ranks = nodes.join(inc, nodes("domain") === inc("dst"), "left")
          .select(col("domain"),
            (lit(150000000L) + expr("(85 * coalesce(inc, 0L)) div 100")).as("rank"))
      }
      val inDeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
      ranks
        .join(outDeg, ranks("domain") === outDeg("src"), "left")
        .join(inDeg, ranks("domain") === inDeg("dst"), "left")
        .select(col("domain"), col("rank").as("pagerank"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .orderBy(col("pagerank").desc, col("domain"))
    },

    // --- vocabulary application: text → token-id sequences --------------
    "d71_vocab_encode" -> { (s, d) =>
      // The tokenize step between d67's merge TRAINING and d28/d49's
      // packing: encode every document as a token-id sequence under a
      // trained vocabulary. Vocab = top-256 corpus words by
      // (count desc, word) → ids 0..255; out-of-vocab words back off to
      // per-character ids (256 + codepoint), the byte-fallback scheme
      // real BPE tokenizers use. Scale shape: vocab construction is a
      // TakeOrdered over the word-count table (never a full sort of the
      // corpus), the id table broadcasts, and the id stream is rebuilt
      // in word order per-doc via array_sort over (pos, ids) structs —
      // no global ordering. The md5 fingerprint pins the exact sequence.
      import org.apache.spark.sql.expressions.Window
      val words = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")))
        .withColumnRenamed("pos", "wpos").withColumnRenamed("col", "w")
        .where(length(col("w")) > 0)
      val top = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(256)
      // row_number runs over the 256 surviving rows only
      val vocab = top
        .withColumn("id", row_number().over(
          Window.orderBy(col("cnt").desc, col("w"))) - 1)
        .select(col("w"), col("id"))
      words.join(broadcast(vocab), Seq("w"), "left")
        .withColumn("ids", when(col("id").isNotNull, array(col("id")))
          .otherwise(expr(
            "transform(sequence(1, length(w)), i -> 256 + ascii(substring(w, i, 1)))")))
        .withColumn("ids_str",
          expr("array_join(transform(ids, x -> cast(x as string)), '-')"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_unk_words"),
          sum(size(col("ids")).cast(LongType)).as("n_tokens"),
          md5(expr(
            "array_join(transform(array_sort(collect_list(struct(wpos, ids_str))), x -> x.ids_str), '-')"))
            .as("seq_md5"))
        .orderBy(col("doc_id"))
    },

    // --- hybrid retrieval: reciprocal-rank fusion -----------------------
    "d72_rrf_fusion" -> { (s, d) =>
      // The RAG retrieval pattern: a lexical ranking and a vector
      // ranking fused by reciprocal rank (RRF, k=60). Lexical scores
      // are INTEGER (shared-term count, then total tf, then id) so the
      // per-query ordering is engine-exact without float BM25 sums; the
      // vector side is the d10 exact-int cosine top-k. RRF doubles are
      // 1/(60+rank) + 1/(60+rank) — two exact IEEE ops on small ints,
      // bit-identical cross-engine. Scale shape: query terms broadcast
      // (queries ≪ corpus), candidates come from the token equi-join
      // (an inverted-index probe, never a doc×doc scan), both rankings
      // are bounded top-20 windows per query, and the fusion join is
      // (query_id, doc_id)-keyed. Docs without an embedding simply have
      // no vector rank (rank_vec NULL), as in production hybrid stores.
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
      val qterms = toks.where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("tok")).distinct()
      val lex = toks.join(broadcast(qterms), "tok")
        .where(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(countDistinct(col("tok")).as("n_shared"), count(lit(1)).as("tf_sum"))
      val wL = Window.partitionBy(col("query_id"))
        .orderBy(col("n_shared").desc, col("tf_sum").desc, col("doc_id"))
      val lexTop = lex.withColumn("rank_lex", row_number().over(wL).cast(LongType))
        .where(col("rank_lex") <= 20)
        .select(col("query_id"), col("doc_id"), col("rank_lex"))
      val e = quantizedEmbeddings(s, d, plant = false)
      val vecTop = graft.ops.Embeddings
        .bruteForceTopK(e, e.where(col("vec_id") < 5), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_vec"))
      val fused = lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rank_vec")), lit(0.0)))
      val wF = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("rank_fused", row_number().over(wF).cast(LongType))
        .where(col("rank_fused") <= 10)
        .select(col("query_id"), col("rank_fused"), col("doc_id"),
          col("rank_lex"), col("rank_vec"), col("rrf"))
        .orderBy(col("query_id"), col("rank_fused"))
    },

    // --- HTML boilerplate removal (web-corpus extraction stage) ---------
    "d73_html_boilerplate" -> { (s, d) =>
      // The extraction step that runs BEFORE every quality/dedup op on a
      // web crawl: wrap each doc in deterministic HTML (nav, title,
      // two paragraphs, footer), strip tags to lines, then drop
      // boilerplate lines by the jusText-style heuristics (too short,
      // separator-bar nav, copyright footer). Per-row string work only —
      // scales with the scan, no cross-row state; the md5 of the
      // extracted main text pins the exact output.
      val docs = t(s, d, "documents")
        .withColumn("half", expr("length(text) div 2"))
        .withColumn("html", concat(
          lit("<html><head><title>Doc "), col("doc_id"), lit("</title></head><body>"),
          lit("<nav>home | about | contact</nav><p>"),
          expr("substring(text, 1, int(half))"), lit("</p><p>"),
          expr("substring(text, int(half) + 1)"),
          lit("</p><footer>copyright 2024 example.org</footer></body></html>")))
      docs
        .withColumn("lines", split(regexp_replace(col("html"), "<[^>]+>", "\n"), "\n"))
        .withColumn("kept", expr(
          """filter(transform(lines, l -> trim(l)), l ->
            |  length(l) >= 15 AND NOT l LIKE '%|%'
            |  AND NOT lower(l) LIKE 'copyright%')""".stripMargin))
        .select(col("doc_id"),
          size(col("kept")).cast(LongType).as("n_lines_kept"),
          length(concat_ws(" ", col("kept"))).cast(LongType).as("main_chars"),
          md5(concat_ws(" ", col("kept"))).as("main_md5"))
        .orderBy(col("doc_id"))
    },

    // --- C4 line-removal rewrite (corpus-global, with reassembly) -------
    "d74_line_dedup_rewrite" -> { (s, d) =>
      // d35 REPORTS chunk-level duplication; this is the C4 step that
      // REMOVES it: any line occurring three-or-more times corpus-wide
      // is dropped from every document, and the cleaned text is
      // reassembled in original order. Two planted full copies per
      // tenth doc (ids +1M/+2M, distinct tails) push that doc's lines
      // to freq ≥ 3, so removal provably fires at every SF. Scale
      // shape: one shuffle of (16-byte line hash, doc_id, idx) rows for
      // the global frequency window, then one groupBy doc_id to
      // reassemble — line text itself never crosses an exchange twice,
      // and the rewrite is a pure map+agg (no joins, no driver state).
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      def plant(off: Long, tail: String) = docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + off)
        .withColumn("text", concat(col("text"), lit(tail)))
      val corpus = docs.unionByName(plant(1000000L, " aaa")).unionByName(plant(2000000L, " bbb"))
      val lines = corpus
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, cast(ceil(size(toks) / 12.0) as int) - 1),
            |  i -> array_join(slice(toks, i * 12 + 1, 12), ' '))""".stripMargin))
          .as(Seq("idx", "line")))
        .withColumn("h", md5(col("line")))
      val freq = lines.withColumn("freq",
        count(lit(1)).over(Window.partitionBy(col("h"))))
      freq.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          count(when(col("freq") >= 3, 1)).as("n_removed"),
          md5(expr(
            """array_join(transform(
              |  array_sort(collect_list(CASE WHEN freq < 3 THEN struct(idx, line) END)),
              |  x -> x.line), ' ')""".stripMargin)).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // --- distributed quality-classifier TRAINING (batch perceptron) -----
    "d75_perceptron_train" -> { (s, d) =>
      // The pipeline stage the other quality ops assume already
      // happened: TRAINING the classifier. Batch perceptron over
      // integer features (bias, n_words, n_stop, n_uniq) against a
      // length-rule label — every margin and every weight update is
      // int64 arithmetic, so the learned weights are bit-exact in any
      // summation order and cross-engine (no float gradients). The
      // distributed shape is the classic parameter-on-driver loop:
      // weights are 4 scalars broadcast into the margin expression,
      // the update is ONE map-side-combined aggregate per pass (sum of
      // y·x over misclassified rows) — per iteration, one job whose
      // shuffle is 4 longs per partition, nothing doc-sized ever moves.
      val f = t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .select(
          when(size(col("toks")) >= 60, 1L).otherwise(-1L).as("y"),
          lit(1L).as("b"),
          size(col("toks")).cast(LongType).as("w1"),
          expr("cast(size(filter(toks, x -> x IN ('the','a','of','and','to','in','is','that'))) as bigint)").as("w2"),
          size(array_distinct(col("toks"))).cast(LongType).as("w3"))
        .persist()
      val n = f.count()
      var w = Array(0L, 0L, 0L, 0L)
      val rows = (1 to 3).map { it =>
        val margin = col("y") * (lit(w(0)) * col("b") + lit(w(1)) * col("w1") +
          lit(w(2)) * col("w2") + lit(w(3)) * col("w3"))
        val r = f.agg(
          sum(when(margin <= 0, col("y") * col("b")).otherwise(0L)),
          sum(when(margin <= 0, col("y") * col("w1")).otherwise(0L)),
          sum(when(margin <= 0, col("y") * col("w2")).otherwise(0L)),
          sum(when(margin <= 0, col("y") * col("w3")).otherwise(0L)),
          sum(when(margin <= 0, 1L).otherwise(0L))).head()
        val mistakes = r.getLong(4)
        w = Array(w(0) + r.getLong(0), w(1) + r.getLong(1), w(2) + r.getLong(2), w(3) + r.getLong(3))
        (it.toLong, w(0), w(1), w(2), w(3), mistakes,
          (n - mistakes).toDouble / n.toDouble)
      }
      f.unpersist()
      import s.implicits._
      rows.toDF("iter", "w_bias", "w_words", "w_stop", "w_uniq", "n_mistakes", "train_acc")
        .orderBy(col("iter"))
    },

    // --- dataset versioning: per-source manifest + crawl-refresh diff ---
    "d77_snapshot_manifest_diff" -> { (s, d) =>
      // The integrity layer a 100 TB corpus needs between pipeline
      // runs: each snapshot rolls up to a per-source manifest (doc
      // count, token count, an ORDER-INDEPENDENT content hash — sum of
      // per-doc 60-bit md5 values mod 1e9+7, commutative so any
      // partitioning/merge order yields the same digest), and the two
      // snapshots diff at doc granularity to added/removed/changed
      // counts. The two snapshots are simulated deterministically
      // (doc_id % 13 == 0 missing before; % 17 == 0 edited since;
      // % 19 == 0 dropped since). One full-outer join on doc_id + one
      // groupBy source —
      // both shuffles carry (doc_id, 16-byte hash), never text.
      val docs = t(s, d, "documents")
      val prev = docs.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h_prev"))
      val cur = docs.where(col("doc_id") % 19 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" upd"))).otherwise(col("text")))
        .select(col("doc_id"), col("source"),
          md5(col("text")).as("h_cur"),
          size(split(col("text"), " ")).cast(LongType).as("n_toks"))
      val joined = cur.join(prev.drop("source"), Seq("doc_id"), "full_outer")
      joined
        .groupBy(coalesce(col("source"), lit("?")).as("source"))
        .agg(
          count(col("h_cur")).as("n_docs"),
          coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"),
          coalesce(sum(when(col("h_cur").isNotNull,
            expr("cast(conv(substring(h_cur, 1, 15), 16, 10) as bigint) % 1000000007"))),
            lit(0L)).as("manifest_hash"),
          count(when(col("h_prev").isNull && col("h_cur").isNotNull, 1)).as("n_added"),
          count(when(col("h_cur").isNull, 1)).as("n_removed"),
          count(when(col("h_prev").isNotNull && col("h_cur").isNotNull &&
            col("h_prev") =!= col("h_cur"), 1)).as("n_changed"))
        .orderBy(col("source"))
    },

    // --- per-domain quota cap (crawl curation) --------------------------
    "d78_domain_quota" -> { (s, d) =>
      // CommonCrawl-style curation: no domain may contribute more than
      // N = 5 docs; within a domain the longest (then lowest-id) docs
      // win. Domains are doc_id-derived like d45's URLs. One shuffle on
      // domain for the rank window, then the same partitioning serves
      // the rollup — kept-set md5 pins the exact selection.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
        .withColumn("domain", concat(lit("site"),
          (col("doc_id") % 50).cast("string"), lit(".example.org")))
      val w = Window.partitionBy(col("domain"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs.withColumn("rk", row_number().over(w))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("rk") <= 5, 1)).as("n_kept"),
          count(when(col("rk") > 5, 1)).as("n_dropped"),
          md5(expr(
            "array_join(array_sort(collect_list(CASE WHEN rk <= 5 THEN cast(doc_id as string) END)), ',')"))
            .as("kept_md5"))
        .orderBy(col("domain"))
    },

    // --- vocabulary coverage curve (tokenizer design) -------------------
    "d79_vocab_coverage" -> { (s, d) =>
      // The question every tokenizer budget starts from: how many
      // frequency-ranked vocabulary entries cover X % of corpus tokens?
      // Token counts are a map-side-combined groupBy (corpus-sized
      // scan, vocab-sized result); the cumulative curve is a window
      // over the VOCAB, not the corpus; thresholds resolve by integer
      // cross-multiplication (cum * 100 ≥ total * pct — no float
      // compare), so the curve is engine-exact.
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, d, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val w = Window.orderBy(col("freq").desc, col("tok"))
      val ranked = counts
        .withColumn("rank", row_number().over(w).cast(LongType))
        .withColumn("cum", sum(col("freq")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = ranked.agg(max(col("cum")).as("total"))
      val thresholds = s.range(1).select(
        explode(array(lit(50L), lit(90L), lit(95L), lit(99L))).as("pct"))
      ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(thresholds))
        .where(col("cum") * 100 >= col("total") * col("pct"))
        .groupBy(col("pct"))
        .agg(min(col("rank")).as("vocab_size"),
          // cum is monotone in rank, so min(cum) IS the coverage at the
          // min qualifying rank
          min(col("cum")).as("covered_tokens"),
          max(col("total")).as("total_tokens"))
        .orderBy(col("pct"))
    },

    // --- k-anonymity small-cell suppression (release governance) --------
    "d76_k_anonymity" -> { (s, d) =>
      // Before corpus stats ship outside the pipeline, cells of the
      // (lang, source, length-bucket) cube with fewer than k=5 docs are
      // suppressed and pooled into one '*' remainder row, so no
      // published count isolates a small group. One groupBy for the
      // cube, one 2-long shuffle for the remainder — the suppressed
      // pool is computed distributively, not by re-scanning.
      val cells = t(s, d, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
      val kept = cells.where(col("n_docs") >= 5)
      val pooled = cells.where(col("n_docs") < 5)
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"))
        .select(lit("*").as("lang"), lit("*").as("source"),
          lit(-1L).as("len_bucket"), col("n_docs"))
      kept.unionByName(pooled)
        .orderBy(col("lang"), col("source"), col("len_bucket"))
    },

    // --- collocation extraction (bigram PMI, integer-ranked) ------------
    "d85_bigram_pmi" -> { (s, d) =>
      // Collocations ("new york", not "of the") rank by pointwise
      // mutual information; the ORDER is what matters, and
      // PMI = log(f_ab·N / (f_a·f_b)) orders exactly like the integer
      // score (f_ab·N·10⁶) div (f_a·f_b) — so the gate is float-free
      // and hash-exact. Unigram and bigram counts aggregate map-side;
      // the score join is vocab-sized on both sides. Support floor
      // f_ab ≥ 3 keeps one-off juxtapositions out (the standard PMI
      // sparsity guard).
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("toks"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val bi = toks.select(explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))""".stripMargin)).as("p"))
        .select(col("p.a"), col("p.b"))
        .groupBy("a", "b").agg(count(lit(1)).as("f_ab"))
        .where(col("f_ab") >= 3)
      val n = uni.agg(sum(col("f")).as("n"))
      bi.join(uni.select(col("w").as("a"), col("f").as("f_a")), "a")
        .join(uni.select(col("w").as("b"), col("f").as("f_b")), "b")
        .crossJoin(broadcast(n))
        .withColumn("pmi_score",
          expr("(f_ab * n * 1000000) div (f_a * f_b)"))
        .orderBy(col("pmi_score").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("f_ab"), col("f_a"), col("f_b"),
          col("pmi_score"))
    },

    // --- token-distribution drift between corpus snapshots --------------
    "d84_token_drift" -> { (s, d) =>
      // Corpus monitoring: when a new crawl lands, which terms moved?
      // Rate drift per term between snapshot A (base docs) and B (base
      // ∪ planted variants), scored integer-exact by cross-
      // multiplication — |fa·nb − fb·na| is the unnormalized rate
      // difference, no float division anywhere. Both snapshots
      // aggregate map-side to vocab-sized tables; the join and top-20
      // are vocab-sized. The planted ' zzz' token surfaces at rank 1
      // by construction, so the gate self-verifies at every SF.
      def tf(df: DataFrame) = df
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("f"))
      val a = tf(t(s, d, "documents"))
      val b = tf(corpusWithPlants(s, d))
      val na = a.agg(sum(col("f")).as("na"))
      val nb = b.agg(sum(col("f")).as("nb"))
      a.withColumnRenamed("f", "fa")
        .join(b.withColumnRenamed("f", "fb"), Seq("term"), "full")
        .na.fill(0L, Seq("fa", "fb"))
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .withColumn("drift", abs(col("fa") * col("nb") - col("fb") * col("na")))
        .orderBy(col("drift").desc, col("term"))
        .limit(20)
        .select(col("term"), col("fa"), col("fb"), col("drift"))
    },

    // --- per-source length quantiles (threshold calibration) ------------
    "d83_source_length_quantiles" -> { (s, d) =>
      // Filter thresholds are calibrated per source (a p10 cutoff for
      // forum text would gut legal text): exact rank-based deciles of
      // n_chars per source — the value at position ⌈p·n/100⌉ — so the
      // quantile is a real corpus value and identical in any engine (no
      // interpolation, no t-digest drift). One shuffle on source for
      // the rank window; the threshold rows are source×3, nothing else
      // leaves the aggregate. At 100 TB the same query runs per
      // partition-date with source-salted windows if one source
      // dominates.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      val ranked = t(s, d, "documents")
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
      val counts = ranked.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val pcts = s.range(1).select(explode(array(lit(10L), lit(50L), lit(90L))).as("pct"))
      ranked.join(broadcast(counts), "source")
        .crossJoin(broadcast(pcts))
        .where(col("rn") === expr("(n * pct + 99) div 100"))
        .select(col("source"), col("pct"), col("n_chars").as("chars_at_pct"), col("n"))
        .orderBy(col("source"), col("pct"))
    },

    // --- quality-filter ablation report (governance cross-tab) ----------
    "d82_filter_ablation_matrix" -> { (s, d) =>
      // Before shipping a filter stack, every pipeline asks: what does
      // each rule remove that the others don't? The 2³ cross-tab of
      // three Gopher/C4-family rules (char-length band, word-count +
      // mean-word-length band, stopword presence) with doc and char
      // totals per cell — the marginal-removal numbers that justify
      // (or kill) a rule. One scan, one 8-row aggregate; every rule is
      // a codegen'd per-row expression, integer-exact in both engines.
      val docs = t(s, d, "documents")
        .withColumn("n_words", size(split(trim(col("text")), "\\s+")).cast(LongType))
        .withColumn("len_ok", (col("n_chars") >= 100 && col("n_chars") <= 20000).cast(IntegerType))
        .withColumn("word_ok", (col("n_words") >= 20 &&
          // mean word length in [3,10]: cross-multiplied, no division
          col("n_chars") >= col("n_words") * 3 && col("n_chars") <= col("n_words") * 10).cast(IntegerType))
        .withColumn("stop_ok", (col("text").contains(" the ") ||
          col("text").contains(" and ") || col("text").contains(" of ")).cast(IntegerType))
      docs.groupBy(col("len_ok"), col("word_ok"), col("stop_ok"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("len_ok"), col("word_ok"), col("stop_ok"))
    },

    // --- fuzzy benchmark decontamination (MinHash, cross-corpus) --------
    "d81_fuzzy_decontamination" -> { (s, d) =>
      // Benchmark contamination is rarely verbatim: Dolma/Llama-style
      // pipelines flag train docs whose MinHash signature agrees with
      // any eval doc on ≥ half its components (est Jaccard ≥ 0.5) —
      // the paraphrase-level overlap d18's exact shingle ratio misses.
      // The eval set (2% of docs) is broadcast-sized; candidates come
      // from the 8×4 band join against it, so the train side shuffles
      // slim (band, bh, id) rows and is never compared all-pairs. The
      // agreement score is an integer component count — hash-exact.
      graft.functions.BitSketchExpressions.register(s)
      val all = corpusWithPlants(s, d)
      val isBench = col("doc_id") % 50 === 0 && col("doc_id") < 1000000
      def sigs(df: DataFrame, idName: String) =
        graft.ops.TextDedup.shingled(df)
          .withColumn("mh", expr("graft_minhash32(shingles)"))
          .select(col("doc_id").as(idName), col("mh").as(s"mh_$idName"))
      def bands(sg: DataFrame, idName: String) = sg
        .select(col(idName), explode(expr(
          s"""transform(sequence(0, 7),
             |  b -> struct(b as band, graft_md5_60(concat_ws(',', slice(mh_$idName, b*4+1, 4))) as bh))""".stripMargin)).as("bd"))
        .select(col(idName), col("bd.band"), col("bd.bh"))
      val benchSigs = sigs(all.where(isBench), "bench_id").persist()
      val trainSigs = sigs(all.where(!isBench), "doc_id")
      val cands = bands(trainSigs, "doc_id")
        .join(broadcast(bands(benchSigs, "bench_id")), Seq("band", "bh"))
        .select(col("doc_id"), col("bench_id")).dropDuplicates("doc_id", "bench_id")
      val out = cands
        .join(trainSigs, "doc_id").join(broadcast(benchSigs), "bench_id")
        .withColumn("n_match", expr(
          "aggregate(zip_with(mh_doc_id, mh_bench_id, (x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
        .where(col("n_match") * 2 >= 32)
        .select(col("doc_id"), col("bench_id"), col("n_match"))
        .orderBy(col("doc_id"), col("bench_id"))
      val result = out.localCheckpoint(true)
      benchSigs.unpersist()
      result
    },

    // --- unigram-LM quality filtering (CCNet-style perplexity proxy) ----
    "d80_unigram_surprisal_filter" -> { (s, d) =>
      // CCNet filters web text by LM perplexity; the unigram version of
      // that signal, made integer-exact: token surprisal quantized to
      // its binary magnitude — bits(c) = length(bin(c)) = ⌊log2 c⌋+1
      // for corpus count c — so a doc's mean surprisal (permille of a
      // bit) is pure integer arithmetic and hash-checks against the
      // oracle with no ln() cross-engine drift. LOW mean bits =
      // rare-token-heavy = the high-perplexity tail a pipeline drops
      // (or routes to review) before training.
      // Shape at 100 TB: one map-side-combined (doc, term) tf pass —
      // the raw token stream shuffles ONCE; the count table and
      // everything after is vocab/doc-sized, and the corpus baseline is
      // a broadcast 1-row aggregate, not a driver collect.
      val tf = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist()
      val counts = tf.groupBy("term").agg(sum(col("tf")).as("c"))
        .withColumn("bits", length(bin(col("c"))).cast(LongType))
      val perDoc = tf.join(counts, "term")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tok"),
          sum(col("tf") * col("bits")).as("sum_bits"))
        .withColumn("mean_bits_permille", expr("sum_bits * 1000 div n_tok"))
      val corpus = perDoc.agg(sum(col("sum_bits")).as("cb"), sum(col("n_tok")).as("cn"))
        .select(expr("cb * 1000 div cn").as("corpus_permille"))
      val out = perDoc.crossJoin(broadcast(corpus))
        .orderBy(col("mean_bits_permille"), col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_tok"), col("sum_bits"),
          col("mean_bits_permille"), col("corpus_permille"))
      // 50-row result: checkpoint eagerly so the tf cache never
      // outlives the query (same hygiene as containmentPairs)
      val result = out.localCheckpoint(true)
      tf.unpersist()
      result
    },

    // --- bigram-LM (conditional) surprisal filtering ---------------------
    "d86_bigram_surprisal_filter" -> { (s, d) =>
      // The KenLM-style upgrade of d80: score each document by the
      // CONDITIONAL surprisal of its bigrams, -log2 P(b|a) ≈
      // bits(f_a) − bits(f_ab) with bits(c) = ⌊log2 c⌋+1 = length(bin(c)).
      // f_a counts a's occurrences as a bigram LHS (the exact
      // conditional denominator), f_ab the bigram itself, so the score
      // is pure integer arithmetic — hash-exact across engines, no ln()
      // drift. High mean surprisal = improbable continuations = the
      // tail a perplexity filter drops. Shape at 100 TB: the bigram
      // stream shuffles once into a map-side-combined (doc,a,b) tf;
      // the count tables are vocab²-sized (bounded), joins are
      // tf⋈vocab, and the final sort is doc-sized.
      val (tfb, out) = bigramSurprisalPlan(s, d)
      val result = out.localCheckpoint(true)
      tfb.unpersist()
      result
    },

    // --- deterministic epoch shard shuffle -------------------------------
    "d87_epoch_shard_shuffle" -> { (s, d) =>
      // Distributed-training data ordering: every epoch needs a
      // different but REPRODUCIBLE global permutation, sharded across
      // workers, without materializing a permutation table or seeding
      // per-task RNG state. Multiplicative hashing gives it stateless:
      // pos = (doc_id·2654435761 + epoch·40503) mod 2³², shard =
      // pos mod 8, within-shard order = pos. Any worker recomputes its
      // shard's order from (epoch, doc_id) alone — resumable mid-epoch
      // at 100 TB with zero coordination. One shuffle on (epoch,shard)
      // serves both window functions (shared sort/partition spec).
      val n = 5
      t(s, d, "documents")
        .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("epoch"))
        .withColumn("pos",
          expr("(doc_id * 2654435761L + epoch * 40503L) % 4294967296L"))
        .withColumn("shard", col("pos") % 8)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("epoch"), col("shard"))
            .orderBy(col("pos"), col("doc_id"))))
        .withColumn("shard_size", count(lit(1)).over(
          Window.partitionBy(col("epoch"), col("shard"))))
        .where(col("rn") <= n)
        .select(col("epoch"), col("shard"), col("rn"), col("doc_id"),
          col("pos"), col("shard_size"))
        .orderBy(col("epoch"), col("shard"), col("rn"))
    },

    // --- URL canonicalization + site-level rollup ------------------------
    "d88_url_canonicalize" -> { (s, d) =>
      // Web-corpus front door: crawlers emit the same page under many
      // URL spellings (case-varying host, www prefix, tracking params,
      // fragments). Canonicalize — lowercase scheme+host, strip www.,
      // drop utm_*/ref params and #fragments — then roll up per site.
      // n_canonical_urls < n_docs proves the merge. Per-row regex
      // (codegen'd, no UDF) + one site-level groupBy; at 100 TB this
      // is a single map-side-combined aggregation over the scan.
      // URLs are synthesized deterministically from (source, lang,
      // doc_id) since the corpus has no url column — the
      // canonicalization chain is the operator under test.
      val raw = t(s, d, "documents")
        .withColumn("url", concat(
          lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM/cat-"),
          (col("doc_id") % 7).cast(StringType), lit("/page?sess="),
          (col("doc_id") % 5).cast(StringType),
          lit("&utm_source=feed&ref="), col("lang"),
          when(col("doc_id") % 3 === 0, lit("#frag")).otherwise(lit(""))))
      val canon = raw
        .withColumn("u1", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("u2", regexp_replace(col("u1"), "&(utm_[a-z]+|ref)=[^&#]*", ""))
        .withColumn("head", lower(regexp_extract(col("u2"), "^([^/]+//[^/]+)", 1)))
        .withColumn("tail", regexp_replace(col("u2"), "^[^/]+//[^/]+", ""))
        .withColumn("canonical",
          concat(regexp_replace(col("head"), "://www\\.", "://"), col("tail")))
      canon
        .withColumn("site", regexp_extract(col("canonical"), "^https://([^/]+)", 1))
        .groupBy(col("site"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical")).as("n_canonical_urls"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy(col("site"))
    },

    // --- compression-ratio repetitiveness filter (rows-only) -------------
    "d89_compression_ratio_filter" -> { (s, d) =>
      // [[graft.ops.Corpus.compressionRatio]] — zlib has no SQL
      // counterpart, so this gate is rows-only; the planted
      // 200×-repeated doc (id 9000000) self-verifies the signal: it
      // MUST flag is_repetitive while normal prose must not, asserted
      // here so a silent codec change fails the gate, not just a spec.
      val docs = t(s, d, "documents")
      val planted = docs.limit(1)
        .withColumn("doc_id", lit(9000000L))
        .withColumn("text", expr("repeat('lorem ipsum spam block ', 200)"))
      // assert on the SCORED PLANTED ROW ALONE (one deflate call), not
      // a filter over the full scored union — the full corpus-wide
      // zlib pass runs once, when the harness consumes the result
      val nBad = graft.ops.Corpus.compressionRatio(planted)
        .where(!col("is_repetitive")).count()
      require(nBad == 0, "planted repeated doc must flag is_repetitive")
      graft.ops.Corpus.compressionRatio(docs.unionByName(planted))
        .orderBy(col("doc_id"))
    },

    // --- repetitiveness profile, the ORACLED half of d89 -----------------
    "d89b_repetition_profile" -> { (s, d) =>
      // Every non-zlib repetitiveness signal from the d89 family,
      // SQL-expressible and hash-checked against DuckDB: byte/token
      // lengths, distinct-token share, and the top token's frequency
      // share (template spam repeats one phrase — its modal token
      // dominates). Only `deflate_len` itself stays in the rows-only
      // d89 gate. Per-row array ops + one map-side-combined aggregate:
      // scales with the scan.
      val docs = t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .where(size(col("toks")) >= 1)
      docs.select(col("doc_id"),
          octet_length(col("text")).cast(LongType).as("raw_len"),
          size(col("toks")).cast(LongType).as("n_toks"),
          size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"))
        .join(
          docs.select(col("doc_id"), explode(col("toks")).as("tok"))
            .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
            .groupBy(col("doc_id")).agg(max(col("tf")).as("max_tf")),
          "doc_id")
        .withColumn("distinct_permille", expr("n_distinct * 1000 div n_toks"))
        .withColumn("top_tok_permille", expr("max_tf * 1000 div n_toks"))
        .select(col("doc_id"), col("raw_len"), col("n_toks"), col("n_distinct"),
          col("distinct_permille"), col("top_tok_permille"))
        .orderBy(col("doc_id"))
    },

    // --- Zipf rank–frequency curve (corpus health check) ------------------
    "d90_zipf_rank_curve" -> { (s, d) =>
      // Natural corpora follow rank·freq ≈ const (Zipf); a crawl whose
      // top ranks break that curve is full of template spam. The check
      // is integer-exact: rank·freq for the top 100 terms plus each
      // term's cumulative share in permille of total tokens. The tf
      // aggregation is map-side combined; the ranking window runs over
      // the VOCAB-sized table (bounded — fine single-partition even at
      // 100 TB corpus scale, the vocabulary does not grow with data).
      val tf = t(s, d, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("f"))
      val n = tf.agg(sum(col("f")).as("n"))
      tf.withColumn("rank", row_number().over(
          Window.orderBy(col("f").desc, col("term"))))
        .where(col("rank") <= 100)
        .withColumn("cum_f", sum(col("f")).over(
          Window.orderBy(col("rank")).rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(n))
        .select(col("rank"), col("term"), col("f"),
          (col("rank") * col("f")).as("rank_freq"),
          expr("cum_f * 1000 div n").as("cum_share_permille"))
        .orderBy(col("rank"))
    },

    // --- hard-negative mining for contrastive training --------------------
    "d91_hard_negatives" -> { (s, d) =>
      // [[graft.ops.Embeddings.hardNegatives]] — per query the top-5
      // most-similar vectors of a DIFFERENT label. The per-query label
      // predicate rides the broadcast join; exact integer dot products
      // (d10's determinism argument) make the ranking hash-exact.
      val e = t(s, d, "embeddings")
      val withLabel = graft.ops.Embeddings.quantized(e)
        .join(e.select(col("vec_id"), col("label")), "vec_id")
      graft.ops.Embeddings.hardNegatives(
          withLabel, withLabel.where(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // --- slim-selection → broadcast rehydration ---------------------------
    "d92_selection_rehydrate" -> { (s, d) =>
      // The stage-boundary pattern every 100 TB pipeline lives on:
      // upstream stages pass around SLIM id lists (here: a quality ∧
      // hash-sample selection computed on already-slim columns), and
      // the full text is rehydrated ONCE at the end by broadcasting
      // the id list into the corpus scan — the corpus never shuffles,
      // never carries text through intermediate stages. PlanAuditSpec
      // pins the broadcast + zero-Exchange-over-text shape.
      val docs = t(s, d, "documents")
      val selected = docs
        .where(substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3")
          && col("n_chars") >= 100)
        .select(col("doc_id"))
      docs.join(broadcast(selected), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // --- skew-salted join (hot-key mitigation, made explicit) -------------
    "d93_skew_salted_join" -> { (s, d) =>
      // 90% of the fact rows share ONE key (domain 0 — the "en
      // Wikipedia" of a crawl join). A plain shuffle join would pile
      // that key onto a single reducer; the portable fix when the dim
      // side is too big to broadcast is salting: fact rows carry a
      // deterministic salt (l_linenumber % 8 — no RNG state), the dim
      // side replicates ×8, and the join key becomes (key, salt) so
      // the hot key spreads over 8 reducers. The salt disappears in
      // the final rollup, so the oracle is the UNSALTED join — the
      // technique must be invisible in the result. (AQE skew-join
      // does this adaptively; the explicit form also covers engines/
      // paths AQE can't reach, e.g. pre-AQE partitioning contracts.)
      val fact = t(s, d, "lineitem")
        .withColumn("key",
          when(col("l_orderkey") % 10 < 9, lit(0L)).otherwise(col("l_partkey") % 50))
        .withColumn("salt", col("l_linenumber") % 8)
      val dim = s.range(0, 50).select(col("id").as("key"),
          (col("id") * 7 + 3).as("weight"))
        .crossJoin(s.range(0, 8).select(col("id").as("salt")))
      fact.hint("shuffle_hash")
        .join(dim.hint("shuffle_hash"), Seq("key", "salt"))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("weight") * col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("weighted_qty"))
        .orderBy(col("key"))
    },

    // --- single-pass filter observability (Observation API) ---------------
    "d94_observed_filter_rates" -> { (s, d) =>
      // Production filters need pass/fail telemetry, and re-scanning to
      // count is a second pass over 100 TB. `df.observe` piggybacks
      // accumulator aggregates on the SAME scan that produces the
      // filtered output — here the kept rows are counted AND the full
      // population measured in one action, zero extra jobs. The gate
      // emits the observed metrics (per-lang pass counts would ride the
      // same observation) as its result row.
      val pass = col("n_chars") >= 200 && col("lang").isin("en", "de", "fr")
      val obs = new org.apache.spark.sql.Observation()
      val kept = t(s, d, "documents")
        .observe(obs,
          count(lit(1)).as("n_total"),
          sum(when(pass, 1L).otherwise(0L)).as("n_pass"),
          sum(col("n_chars")).as("chars_total"))
        .where(pass)
      val nKept = kept.count()
      val m = obs.get
      val nTotal = m("n_total").asInstanceOf[Long]
      val nPass = m("n_pass").asInstanceOf[Long]
      require(nPass == nKept, s"observed pass count $nPass != kept rows $nKept")
      import s.implicits._
      Seq((nTotal, nPass, nTotal - nPass, m("chars_total").asInstanceOf[Long]))
        .toDF("n_total", "n_pass", "n_fail", "chars_total")
    },

    // --- mergeable sketch quantiles (one-pass profile) --------------------
    "d95_approx_quantiles" -> { (s, d) =>
      // d83 computes EXACT per-source quantiles via a rank window —
      // right for calibration, but it sorts every source partition.
      // The 100 TB profile pass is approx_percentile: one scan,
      // map-side-mergeable sketches, rank error ≤ n/accuracy. The gate
      // brackets each estimate between the exact values at rank ± 2
      // (accuracy 10⁴ ⇒ sub-rank error at these corpus sizes) and
      // emits the exact value + a pinned-TRUE tolerance flag, s11-style.
      val docs = t(s, d, "documents").select(col("source"), col("n_chars"))
      val ranked = docs.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"))))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      val spec = counts
        .select(col("source"), col("n"),
          explode(expr("array(50, 95)")).as("p"))
        .withColumn("r", expr("cast(ceil(n * p / 100.0) as int)"))
        .withColumn("lo", expr("greatest(1, r - 2)"))
        .withColumn("hi", expr("least(cast(n as int), r + 2)"))
      val brackets = spec.join(ranked, Seq("source"))
        .where(col("rn") === col("r") || col("rn") === col("lo") || col("rn") === col("hi"))
        .groupBy(col("source"), col("p"))
        .agg(max(when(col("rn") === col("r"), col("n_chars"))).as("exact"),
          min(when(col("rn") === col("lo"), col("n_chars"))).as("lov"),
          max(when(col("rn") === col("hi"), col("n_chars"))).as("hiv"))
      val approx = docs.groupBy("source")
        .agg(expr("approx_percentile(n_chars, array(0.5, 0.95), 10000)").as("qs"))
        .select(col("source"), explode(expr(
          "array(named_struct('p', 50, 'apx', qs[0]), named_struct('p', 95, 'apx', qs[1]))")).as("e"))
        .select(col("source"), col("e.p").as("p"), col("e.apx").as("apx"))
      brackets.join(approx, Seq("source", "p"))
        .select(col("source"), col("p"), col("exact"),
          (col("apx") >= col("lov") && col("apx") <= col("hiv")).as("within_tol"))
        .orderBy(col("source"), col("p"))
    },

    // --- accent-folding dedup (diacritic spelling variants) ---------------
    "d96_accent_fold_dedup" -> { (s, d) =>
      // Web text spells the same word both ways — café/cafe,
      // résumé/resume — so exact dedup (d01) and even case/ws
      // normalization (d02) miss diacritic variants. Fold via NFD
      // decomposition + combining-mark removal (the native codegen'd
      // graft_normalize expression + one regex), then hash-group.
      // DuckDB's strip_accents is the same fold for Latin text, so
      // the whole pipeline is oracle-checked. Planted pairs: every
      // 13th doc in an accented and an unaccented spelling (ids +7M /
      // +8M) MUST land in one cluster; the base doc (no suffix) must
      // not. Per-row fold + one hash groupBy — scales with the scan.
      graft.functions.BitSketchExpressions.register(s)
      val docs = t(s, d, "documents")
      val variants = docs.where(col("doc_id") % 13 === 0)
      val planted = variants
        .withColumn("doc_id", col("doc_id") + 7000000L)
        .withColumn("text", concat(col("text"), lit(" cafe resume naive")))
        .unionByName(variants
          .withColumn("doc_id", col("doc_id") + 8000000L)
          .withColumn("text", concat(col("text"), lit(" café résumé naïve"))))
      docs.unionByName(planted)
        .withColumn("folded", lower(regexp_replace(
          expr("graft_normalize(text, 'NFD')"), "\\p{M}", "")))
        .groupBy(md5(col("folded")).as("fold_hash"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keep_id"),
          max(length(col("folded"))).as("n_chars"))
        .where(col("n_variants") > 1)
        .orderBy(col("fold_hash"))
    },

    // --- contrastive pair construction from dedup clusters ----------------
    "d97_contrastive_pairs" -> { (s, d) =>
      // The dedup byproduct IS training data: every near-dup cluster
      // yields (anchor = representative, positive = other member)
      // pairs — free positives for contrastive embedding training,
      // harvested from the same connected components d21 computes for
      // retention. Zero extra shuffles beyond the CC itself.
      connectedComponents(jaccardPairs(s, d).select(col("a"), col("b")))
        .where(col("node") =!= col("lab"))
        .select(col("lab").as("anchor_id"), col("node").as("positive_id"))
        .orderBy(col("anchor_id"), col("positive_id"))
    },

    // --- leakage-proof train/eval split (cluster-granular) ----------------
    "d98_leakproof_split" -> { (s, d) =>
      // The constructive fix to what d63 detects: doc-granular hash
      // splits leak near-duplicates across train/eval. Assign the
      // split at CLUSTER granularity — every doc inherits its
      // connected-component representative's hash coin — so a near-dup
      // pair can never straddle the boundary by construction.
      // Singletons (no near-dup) keep their own id as rep. Output:
      // per-split doc counts plus the straddling-pair count, which the
      // construction pins to ZERO.
      val corpus = corpusWithPlants(s, d).select(col("doc_id"))
      // pairs feed BOTH the CC and the straddle audit — jaccardPairs
      // already returns an eagerly-checkpointed frame (its materialize
      // default), so both consumers read the materialized result; a
      // second persist here would just build a redundant cache
      val pairs = jaccardPairs(s, d).select(col("a"), col("b"))
      val cc = connectedComponents(pairs)
      // `reps` feeds THREE consumers (both sides of the straddle audit
      // plus the per-split rollup) — without a cut each consumer re-ran
      // the corpus⋈cc join and the md5 split coin (guide §1.2: don't
      // recompute). The LAZY cut materializes the slim
      // (doc_id, rep, split) rows once inside the final action; all
      // three consumers read the pinned blocks.
      val reps = graft.core.Checkpoints.cut(
        corpus.join(cc.select(col("node").as("doc_id"), col("lab")),
          Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("lab"), col("doc_id")))
        .withColumn("split", when(
          expr("cast(conv(substring(md5(cast(rep as string)), 1, 15), 16, 10) as bigint) % 10") < 8,
          lit("train")).otherwise(lit("eval")))
        .select(col("doc_id"), col("rep"), col("split")), eager = false)
      val straddle = pairs
        .join(reps.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
        .join(reps.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
        .where(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("n_straddling"))
      val out = reps.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
        .crossJoin(broadcast(straddle))
        .orderBy(col("split"))
      out
    },

    // --- mixture-weighted deterministic interleave ------------------------
    "d99_mixture_interleave" -> { (s, d) =>
      // A mixture schedule (d31/d69) is only real once it becomes an
      // actual DATA ORDER. Weighted fair interleave, stateless and
      // deterministic: doc k of source s is emitted at virtual time
      // k·10⁶ div weight_s (higher weight → denser emission — the
      // classic weighted-fair-queueing formula, pure integer math).
      // Within-source order is a content-hash shuffle. Any worker can
      // compute any slice of the order from (source, rank) alone —
      // no sampler state, resumable at 100 TB. Gate = first 200
      // positions of the global order.
      val docs = t(s, d, "documents")
        .withColumn("weight",
          expr("1 + cast(conv(substring(md5(source), 1, 15), 16, 10) as bigint) % 5"))
      val ranked = docs.withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))))
      ranked
        .withColumn("vtime", expr("cast(rk as bigint) * 1000000 div weight"))
        .orderBy(col("vtime"), col("source"), col("doc_id"))
        .limit(200)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("vtime"), col("source"), col("doc_id"))))
        .select(col("pos"), col("vtime"), col("source"), col("rk"),
          col("weight"), col("doc_id"))
        .orderBy(col("pos"))
    },

    // --- the full front door, composed end to end -------------------------
    "d100_pipeline_e2e" -> { (s, d) =>
      // The operators above chained the way a production ingest
      // actually runs, in ONE declarative plan Catalyst optimizes as a
      // whole: normalize (d02's fold) → exact-dedup keep-min-id →
      // quality gate (d04's score ≥ 0.5) → deterministic 90/10 split
      // (d19's hash coin) → per-(split, source) accounting. No stage
      // materializes an intermediate; the corpus streams once into the
      // dedup shuffle and once more through the scoring projection.
      val docs = corpusWithPlants(s, d)
      val normed = docs.withColumn("norm",
        regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val keepIds = normed
        .groupBy(md5(col("norm")).as("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val kept = normed.join(keepIds, Seq("doc_id"), "left_semi")
      val scored = graft.ops.Corpus.qualityScore(kept)
      kept.select(col("doc_id"), col("source")).join(scored, Seq("doc_id"))
        .where(col("quality") >= 0.5)
        .withColumn("split", when(expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 10") < 9,
          lit("train")).otherwise(lit("eval")))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("alpha_chars")).as("alpha_chars"))
        .orderBy(col("split"), col("source"))
    },

    // --- mixed-language document detection --------------------------------
    // --- persisted LSH index, bucketed by the probe key ------------------
    "d102_lsh_index_probe" -> { (s, d) =>
      // The index form of incremental near-dup dedup at 100 TB: the
      // history corpus's banded MinHash rows live as a CATALOG TABLE
      // bucketed by (band, bucket-hash) — maintained once, probed by
      // every new crawl batch with NO shuffle of the index side
      // (PlanAuditSpec pins the exchange-free sort-merge shape; at
      // gate scale Catalyst broadcasts the small probe side, equally
      // right). Output: per batch doc, its distinct history candidate
      // count + smallest candidate id — both replayed by the oracle's
      // banded-minhash CTE chain over the same split.
      lshIndexProbePlan(s, d)
    },

    "d101_mixed_language_flags" -> { (s, d) =>
      // Concatenation artifacts — an English page with a German
      // boilerplate tail — poison monolingual training sets and slip
      // past whole-doc language id (the dominant language wins). Split
      // each doc in half, run d05's stopword-profile argmax on EACH
      // half (literally the same formula via langIdExpr), and flag
      // docs whose halves disagree with ≥2 stopword hits on both
      // sides. Planted mixed docs (English + German filler tail,
      // id+9M) surface; per-row expressions only — scales with the
      // scan.
      val docs = t(s, d, "documents")
      val planted = docs.where(col("lang") === "en" && col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 9000000L)
        .withColumn("text", concat(col("text"),
          lit(" der die das und ist nicht mit und der ist das nicht mit der und")))
      // hoist the five profile scores per half into an array column so
      // each filter pass runs ONCE (the argmax would otherwise
      // re-evaluate them per comparison branch)
      val argmax =
        """case
          |  when sc[0] >= sc[1] and sc[0] >= sc[2] and sc[0] >= sc[3] and sc[0] >= sc[4] then 'en'
          |  when sc[1] >= sc[2] and sc[1] >= sc[3] and sc[1] >= sc[4] then 'de'
          |  when sc[2] >= sc[3] and sc[2] >= sc[4] then 'es'
          |  when sc[3] >= sc[4] then 'fr'
          |  else 'zh' end""".stripMargin
      def half(t: String, suffix: String)(df: DataFrame): DataFrame = df
        .withColumn("sc", expr(langScoresExpr(t)))
        .withColumn(s"lang_$suffix", expr(argmax))
        .withColumn(s"hits_$suffix",
          expr("greatest(sc[0], sc[1], sc[2], sc[3], sc[4])"))
        .drop("sc")
      // the driver's parquet files are a SINGLE row group, so the scan
      // is one unsplittable task and the 10 stopword-profile passes ran
      // serially (guide §2.5: unsplittable input → repartition right
      // after the read). spreadForCpu hash-distributes the slim
      // (id, lang, text) rows on doc_id before the per-row scoring —
      // and is a NO-OP whenever the scan already splits to >= half the
      // session's parallelism (any real table at scale), so no shuffle
      // of the text column is forced on well-laid-out input. The
      // localCheckpoint inside it is the optimizer barrier: predicate
      // pushdown would otherwise substitute the scoring aliases into
      // the final filter and push the whole computation back below the
      // exchange into the single-task scan (measured: without it the
      // repartition changed nothing)
      graft.ops.TextDedup.spreadForCpu(
          docs.unionByName(planted)
            .select(col("doc_id"), col("lang"), col("text")))
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("h", expr("size(toks) div 2"))
        .withColumn("ta", expr("slice(toks, 1, h)"))
        .withColumn("tb", expr("slice(toks, h + 1, size(toks) - h)"))
        .where(expr("size(ta) > 0 and size(tb) > 0"))
        .transform(half("ta", "a"))
        .transform(half("tb", "b"))
        .where(col("lang_a") =!= col("lang_b") &&
          col("hits_a") >= 2 && col("hits_b") >= 2)
        .select(col("doc_id"), col("lang"), col("lang_a"), col("lang_b"),
          col("hits_a"), col("hits_b"))
        .orderBy(col("doc_id"))
    },

    // --- longest shared token-span per doc pair (ExactSubstr metric) ---
    "d105_longest_shared_span" -> { (s, d) =>
      // d47 says WHICH pairs share windows; this op says HOW LONG the
      // longest verbatim copy is — the span-length metric behind
      // "≥ 50-token overlap" decontamination rules. A shared span of
      // L tokens produces L−7 consecutive window matches on ONE
      // diagonal (pa − pb constant), so the measurement is
      // gaps-and-islands over (pair, diagonal): no token arrays ever
      // cross a shuffle, only (a, b, pa, pb) ints from the df-capped
      // inverted index (stop-window pruning may split a run through a
      // hot window — deterministic, the oracle replays it). Plants:
      // each 13th doc's tokens 10..39 re-embedded behind a distinct
      // head → a 30-token span on a shifted diagonal must surface.
      graft.ops.TextDedup.sharedSpans(exactSubstrCorpus(s, d))
        .orderBy(col("a"), col("b"))
    },

    // --- ExactSubstr CUT: remove the shared spans from the dup side ---
    "d111_span_cut_rewrite" -> { (s, d) =>
      // d105 MEASURES shared verbatim spans; this is the ACTION: the
      // higher-id doc of each sharing pair loses the duplicated tokens
      // (keep-first), overlapping spans resolved per token so nothing
      // double-removes. Same df-capped inverted index — only
      // (a, b, pos) ints shuffle; the rewrite is per-doc array math
      // and new_md5 pins the rewritten text without shipping it.
      graft.ops.TextDedup.spanCutRewrite(exactSubstrCorpus(s, d))
        .orderBy(col("doc_id"))
    },

    // --- SFT/chat data prep: turn assembly from raw interaction logs ---
    "d103_chat_turn_assembly" -> { (s, d) =>
      // Multi-turn training samples come from raw per-user event
      // streams: sessionize (30-min gap), map events to roles, MERGE
      // consecutive same-role messages into one turn (alternation then
      // holds by construction — the chat-template invariant), and keep
      // conversations with ≥ 2 turns. See chatTurnsPlan for the
      // one-shuffle window design.
      chatTurnsPlan(s, d)
        .select(col("user_id"), col("conv_idx"), col("turn_idx"),
          col("role"), col("n_msgs"), col("turn_text"), col("n_turns"))
        .orderBy(col("user_id"), col("conv_idx"), col("turn_idx"))
    },

    // --- SFT/chat data prep: context-window fit at turn granularity ---
    "d104_context_window_pack" -> { (s, d) =>
      // Fitting a conversation to the model's context keeps the LAST
      // whole turns under the budget (truncating mid-turn corrupts the
      // template): reverse running cost per conversation, keep the
      // suffix with cum cost ≤ 8 messages plus always the final turn.
      // One extra window over the same (user, conv) clustering — no
      // new shuffle beyond chatTurnsPlan's.
      graft.ops.Chat.fitToContext(chatTurnsPlan(s, d), budget = 8)
        .orderBy(col("user_id"), col("conv_idx"))
    },

    // --- PII: Luhn-validated payment-card detection --------------------
    "d106_pii_luhn_cards" -> { (s, d) =>
      // d22 redacts by pattern; this op separates REAL card numbers
      // from arbitrary long digit runs via the mod-10 checksum every
      // issued card satisfies — pattern-only scrubbing either leaks
      // (too narrow) or destroys order IDs (too broad). Plants: a
      // Luhn-valid test number + an invalid twin on every 22nd doc
      // (n_cands=2, n_valid=1) and the invalid twin alone on doc_id %
      // 22 == 11 (n_valid=0) — both classes provably present at every
      // SF. Per-row regex + in-row checksum fold, all built-ins
      // (codegen); scales with the scan, no shuffle.
      val docs = t(s, d, "documents")
      val corpus = docs.unionByName(
          docs.where(col("doc_id") % 22 === 0)
            .withColumn("doc_id", col("doc_id") + 4000000L)
            .withColumn("text", concat(col("text"),
              lit(" card 4532015112830366 pin 4532015112830367"))))
        .unionByName(
          docs.where(col("doc_id") % 22 === 11)
            .withColumn("doc_id", col("doc_id") + 5000000L)
            .withColumn("text", concat(col("text"),
              lit(" ref 4532015112830367"))))
      graft.ops.Corpus.cardCandidates(corpus)
        .where(col("n_cands") > 0)
        .orderBy(col("doc_id"))
    },

    // --- RLHF/DPO preference-pair mining -------------------------------
    "d107_preference_pairs" -> { (s, d) =>
      // chosen/rejected pair construction for preference tuning: within
      // each (source, lang) group, rank docs by quality score, pair the
      // 5 best with the 5 worst rank-for-rank, keep pairs with margin ≥
      // 0.05. Two row_number windows over ONE group partitioning — a
      // single hash exchange, ≤ 5 rows out per group (never quadratic).
      val docs = t(s, d, "documents")
      val scored = graft.ops.Corpus
        .qualityScore(docs, keep = Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"), col("quality"))
      graft.ops.Corpus.preferencePairs(scored, Seq("source", "lang"),
          "quality", k = 5, minMargin = 0.05)
        .select(col("source"), col("lang"), col("rk").cast(LongType).as("rk"),
          col("chosen_id"), col("rejected_id"),
          round(col("chosen_score"), 6).as("chosen_score"),
          round(col("rejected_score"), 6).as("rejected_score"),
          round(col("margin"), 6).as("margin"))
        .orderBy(col("source"), col("lang"), col("rk"))
    },

    // --- Unicode-script profile (pre-language-ID routing) --------------
    "d108_script_profile" -> { (s, d) =>
      // Script detection runs BEFORE language ID in a multilingual
      // pipeline: a code-point histogram over Unicode script classes is
      // alphabet-level evidence that routes docs to the right stopword
      // models (d05/d101 assume an alphabet). Plants put Cyrillic /
      // Greek / Han / Arabic text behind every 17th doc so each branch
      // of the dominant-script CASE is exercised at every SF. Per-row
      // codegen regex counting; scales with the scan, no shuffle.
      val docs = t(s, d, "documents")
      def plant(m: Int, off: Long, tail: String) =
        docs.where(col("doc_id") % 17 === m)
          .withColumn("doc_id", col("doc_id") + off)
          .withColumn("text", concat(col("text"), lit(tail)))
      val corpus = docs
        .unionByName(plant(0, 6100000L, " привет мир поток данных слово"))
        .unionByName(plant(1, 6200000L, " γειά σου κόσμος λέξη γλώσσα"))
        .unionByName(plant(2, 6300000L, " 你好世界数据语言文字模型训练语料库文本处理分析"))
        .unionByName(plant(3, 6400000L, " مرحبا بالعالم بيانات لغة نص"))
      graft.ops.Corpus.scriptProfile(corpus)
        .orderBy(col("doc_id"))
    },

    // --- SFT: templated-assistant-response detection --------------------
    "d109_chat_templated_responses" -> { (s, d) =>
      // Conversations whose assistant turns are mostly corpus-wide
      // duplicates (canned replies) teach the template, not the
      // behavior — flag them before SFT. Content is (event_type:k)
      // so turn texts have real vocabulary; the corpus-wide turn-hash
      // frequency is one 16-byte-hash shuffle, then a per-conversation
      // rollup on the same (user, conv) clustering as d103.
      graft.ops.Chat.templatedShare(chatRichTurnsPlan(s, d))
        .orderBy(col("user_id"), col("conv_idx"))
    },

    // --- token-entropy / type-token-ratio quality filter ----------------
    "d110_token_entropy" -> { (s, d) =>
      // Vocabulary-diversity signal: token-level Shannon entropy and
      // type-token ratio — near-zero entropy is machine-generated
      // repetition that length or stopword filters miss. The entropy
      // fold runs over the SORTED distinct-token list so float
      // summation order is pinned cross-engine. Plants a one-token
      // spam doc on every 23rd id so the low-entropy flag provably
      // fires at every SF. Per-row array math; scales with the scan.
      val docs = t(s, d, "documents")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 23 === 0)
          .withColumn("doc_id", col("doc_id") + 6500000L)
          .withColumn("text", expr("repeat('spam ', 60)")))
      graft.ops.Corpus.tokenEntropy(corpus)
        .orderBy(col("doc_id"))
    },

    // --- product-quantization encode (PQ codes, the ANN storage path) --
    "d112_pq_encode" -> { (s, d) =>
      // 64-dim vectors → 4 sub-blocks × 8-entry codebook: 4 small ints
      // replace 64 floats — the compression that makes billion-vector
      // ANN affordable. Codebook = the first 8 vectors (deterministic
      // seed; training refinement is d25's covered ground). Assignment
      // streams n·m·ksub slim rows against the broadcast codebook —
      // linear, exact integer L2, ties to the smallest centroid.
      val e = quantizedEmbeddings(s, d, plant = false)
      val cb = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"))
      graft.ops.Embeddings.pqEncode(e, cb, m = 4)
        .select(col("vec_id"),
          expr("element_at(codes, 1)").as("c1"),
          expr("element_at(codes, 2)").as("c2"),
          expr("element_at(codes, 3)").as("c3"),
          expr("element_at(codes, 4)").as("c4"),
          col("sqerr"))
        .orderBy(col("vec_id"))
    },

    // --- asymmetric-distance (ADC) top-k over PQ codes + recall -------
    "d113_pq_adc_recall" -> { (s, d) =>
      // The query side of PQ: per query a (block, centroid) lookup
      // table of exact int L2 distances (queries·m·ksub rows,
      // broadcast); corpus distance = sum of m LUT hits on its codes —
      // only (vec, block, code) ints shuffle. Recall@10 against the
      // exact full-precision L2 top-10 quantifies what the 16×
      // compression costs, per query.
      val e = quantizedEmbeddings(s, d, plant = false)
      val cb = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"))
      val qs = e.where(col("vec_id") >= 100 && col("vec_id") < 110)
      val adc = graft.ops.Embeddings.pqAdcTopK(e, qs, cb, m = 4, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val exact = {
        val q = qs.select(col("vec_id").as("query_id"), col("q").as("qq"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("dist", expr("graft_l2_i64(q, qq)"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("vec_id").asc)
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
      }
      val hits = adc.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          // small-int IEEE division is exactly rounded → engine-identical
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / 10.0).as("recall_at_10"))
        .orderBy(col("query_id"))
    },

    // --- IVF-PQ (IVFADC): coarse lists + residual codes + probed ADC ---
    "d114_ivfpq_recall" -> { (s, d) =>
      // The full production ANN composition: 16 coarse lists route the
      // corpus, PQ encodes each vector's RESIDUAL against its list
      // centroid (residual codes beat raw-vector codes), and a query
      // ADC-scans only its 4 nearest lists. The residual codebook is a
      // deterministic synthetic seed (training refinement is d25's
      // ground); recall@10 vs exact L2 quantifies the probe+code loss.
      val e = quantizedEmbeddings(s, d, plant = false)
      val coarse = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"))
      val pqCb = s.range(8).select(col("id").as("cent_id"),
        expr("transform(sequence(1, 64), i -> cast((id * 40503 + i * 2654435761) % 401 - 200 as bigint))")
          .as("cq"))
      val qs = e.where(col("vec_id") >= 100 && col("vec_id") < 110)
      val approx = graft.ops.Embeddings
        .ivfPqTopK(e, qs, coarse, pqCb, m = 4, nProbe = 4, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val exact = {
        val q = qs.select(col("vec_id").as("query_id"), col("q").as("qq"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("dist", expr("graft_l2_i64(q, qq)"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("vec_id").asc)
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
      }
      val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / 10.0).as("recall_at_10"))
        .orderBy(col("query_id"))
    },

    // --- line-level boilerplate removal within a source -----------------
    "d115_boilerplate_lines" -> { (s, d) =>
      // Doc-level dedup can't touch a cookie banner glued to unique
      // prose; the CCNet/RefinedWeb move is line-granular: a line
      // repeated across ≥ 5 distinct docs of the same source is
      // boilerplate and gets cut everywhere. Plants give every doc a
      // unique ref line (never cut) plus three boilerplate classes —
      // global cookie line (%3), per-source footer (%4), legal line
      // (%5) — so sources cross the df threshold differently. Slim
      // (source, line-hash, doc) df-count shuffle; boilerplate sets
      // broadcast; docs filter their own lines locally (no reassembly
      // shuffle — see TextDedup.boilerplateLines).
      val docs = t(s, d, "documents")
      val corpus = docs.select(col("doc_id"), col("source"),
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\naccept all cookies to continue")).otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            concat(lit("\nsubscribe to the "), col("source"),
              lit(" newsletter"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 2,
            lit("\nall rights reserved")).otherwise(lit("")),
          concat(lit("\nref "), col("doc_id").cast(StringType))).as("text"))
      graft.ops.TextDedup.boilerplateLines(corpus, minDf = 5)
        .orderBy(col("doc_id"))
    },

    // --- quality-classifier AUC (Mann-Whitney rank-sum) -----------------
    "d116_quality_auc" -> { (s, d) =>
      // Before a quality score gates a corpus, measure whether it
      // actually separates clean from junk: AUC against a labeled
      // plant set (spam-repetition docs, varying length so scores
      // spread). Computed scale-shaped: quantize → per-score counts
      // (one slim shuffle) → rank window over the distinct-score
      // table only. Exact-half addends keep the float sum
      // order-independent; see Corpus.rankAuc.
      val docs = t(s, d, "documents")
      val corpus = docs.select(col("doc_id"), col("text"), lit(1).as("y"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            expr("repeat('spam ', cast(20 + doc_id % 13 as int))").as("text"),
            lit(0).as("y")))
      val scored = graft.ops.Corpus.qualityScore(corpus, keep = Seq("y"))
      graft.ops.Corpus.rankAuc(scored, "quality", "y")
    },

    // --- Bradley-Terry strengths from pairwise preferences --------------
    "d117_bradley_terry" -> { (s, d) =>
      // Arena-style leaderboard math over preference data: per source,
      // each language's champion doc (top quality) plays every other
      // language's champion; cross-source win/loss records feed two
      // minorization-maximization rounds of the Bradley-Terry model.
      // The corpus-scale part is champion selection (per-(source,lang)
      // window, one exchange); the MM solve runs on the 5-competitor
      // edge table (broadcast joins). See Corpus.bradleyTerry.
      val docs = t(s, d, "documents")
      val scored = graft.ops.Corpus
        .qualityScore(docs, keep = Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"), col("quality"))
      val w = Window.partitionBy(col("source"), col("lang"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      val champs = scored.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("source"), col("lang"), col("quality"))
      val a = champs.select(col("source"), col("lang").as("la"),
        col("quality").as("qa"))
      val b = champs.select(col("source"), col("lang").as("lb"),
        col("quality").as("qb"))
      val matches = a.join(b, "source").where(col("la") < col("lb"))
        .select(
          when(col("qa") >= col("qb"), col("la")).otherwise(col("lb")).as("winner"),
          when(col("qa") >= col("qb"), col("lb")).otherwise(col("la")).as("loser"))
      graft.ops.Corpus.bradleyTerry(matches, iters = 2)
        .select(col("item").as("lang"), col("wins"), col("games"),
          col("strength"))
        .orderBy(col("lang"))
    },

    // --- encoding-artifact (mojibake) detection -------------------------
    "d118_encoding_artifacts" -> { (s, d) =>
      // Byte-level damage — UTF-8 decoded as Latin-1 ("Ã©", "â€™") or
      // lossy transcoding (U+FFFD) — is unrepairable downstream, so
      // it's flagged before tokenization. Plants put the two damage
      // classes on disjoint residue classes so both flags provably
      // fire at every SF. Per-row codegen regex; scales with the scan.
      val docs = t(s, d, "documents")
      val corpus = docs
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 7500000L)
          .withColumn("text", concat(col("text"),
            lit(" cafÃ© dÃ©jÃ  vu â€™quoteâ€œ naÃ¯ve Â· end"))))
        .unionByName(docs.where(col("doc_id") % 13 === 1)
          .withColumn("doc_id", col("doc_id") + 7600000L)
          .withColumn("text", concat(col("text"),
            lit(" bad�bytes�here"))))
      graft.ops.Corpus.encodingArtifacts(corpus)
        .where(col("n_artifacts") > 0)
        .orderBy(col("doc_id"))
    },

    // --- curriculum-learning pacing schedule ----------------------------
    "d119_curriculum_pacing" -> { (s, d) =>
      // Root-paced curriculum per domain: rank docs easiest-first
      // (token count as the difficulty signal) and compute the first
      // epoch of 4 that unlocks each doc under ⌈n·√(e/E)⌉ pacing.
      // Per-SOURCE windows — domain-sized partitions, no corpus-wide
      // sort (the global-rank variant would serialize one partition
      // at 100 TB). See Corpus.curriculumSchedule.
      val docs = t(s, d, "documents")
      graft.ops.Corpus.curriculumSchedule(docs,
          difficulty = size(graft.ops.Corpus.tokens()), epochs = 4)
        .select(col("doc_id"), col("source"), col("difficulty"),
          col("rnk"), col("first_epoch"))
        .orderBy(col("doc_id"))
    },

    // --- annotator agreement (Cohen's kappa) ----------------------------
    "d120_annotator_kappa" -> { (s, d) =>
      // Labeled-data QA: how much do a composite quality annotator and
      // a length-only annotator agree beyond chance? Raw agreement
      // overstates consensus when both mostly vote 'keep'; kappa
      // corrects by the marginals. The corpus collapses map-side to a
      // 2×2 cell table — one aggregate, exact integer counts.
      val docs = t(s, d, "documents")
      val scored = graft.ops.Corpus.qualityScore(docs)
      graft.ops.Corpus.cohenKappa(scored,
        aCol = col("quality") >= 0.45, bCol = col("n_tokens") >= 40L)
    },

    // --- per-language tokenizer-facing corpus profile -------------------
    "d121_lang_token_stats" -> { (s, d) =>
      // Tokenizer/vocab sizing runs on these stats: bytes-per-char
      // says what a byte-level tokenizer pays per script (a planted
      // Han tail makes zh multi-byte at every SF), chars-per-token
      // calibrates fertility. Exact integer sums, one lang-sized
      // aggregate with map-side combine.
      val docs = t(s, d, "documents")
      val corpus = docs.withColumn("text",
        when(col("lang") === "zh",
          concat(col("text"), lit(" 数据处理流程样本")))
          .otherwise(col("text")))
      graft.ops.Corpus.langTokenStats(corpus)
        .orderBy(col("lang"))
    },

    // --- label propagation over the near-dup graph ----------------------
    "d122_label_propagation" -> { (s, d) =>
      // A human verdict on one copy should condemn or save its whole
      // duplicate neighborhood: seeds (+1 keep on doc_id%17=0, -1 spam
      // on %17=5) propagate 3 sign-vote rounds over the d21 jaccard
      // edge set; unclamped nodes adopt the neighbor-majority sign.
      // Slim (node, label) int shuffles per round, state checkpointed
      // per round — see TextDedup.labelPropagation.
      val corpus = corpusWithPlants(s, d)
      val seeds = corpus.where(col("doc_id") % 17 === 0 ||
          col("doc_id") % 17 === 5)
        .select(col("doc_id").as("node"),
          when(col("doc_id") % 17 === 0, lit(1)).otherwise(lit(-1)).as("lab"))
      graft.ops.TextDedup
        .labelPropagation(jaccardPairs(s, d).select(col("a"), col("b")),
          seeds, iters = 3)
        .select(col("node").as("doc_id"), col("lab").cast(LongType).as("lab"),
          col("clamped").as("is_seed"))
        .orderBy(col("doc_id"))
    },

    // --- winnowing (MOSS) fingerprint profile ---------------------------
    "d123_winnowing_profile" -> { (s, d) =>
      // Winnowing selects the rightmost-min k-gram hash per window of
      // w — guaranteeing any shared (w+k-1)-token run yields a shared
      // fingerprint at expected density 2/(w+1) ≈ 0.33, the position-
      // robust sketch MinHash/SimHash don't give. Selection is pure
      // per-row codegen array math; this gate checks the density
      // guarantee holds per doc.
      val corpus = exactSubstrCorpus(s, d)
      val fp = graft.ops.TextDedup.winnowingFingerprints(corpus)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      corpus
        .select(col("doc_id"),
          size(split(lower(trim(col("text"))), "\\s+")).cast(LongType).as("n_toks"))
        .where(col("n_toks") >= 8)
        .join(fp, Seq("doc_id"))
        .select(col("doc_id"), col("n_toks"),
          (col("n_toks") - 3).as("n_grams"),
          (col("n_toks") - 7).as("n_windows"), col("n_fp"),
          round(col("n_fp").cast(DoubleType) / (col("n_toks") - 7), 6)
            .as("density"))
        .orderBy(col("doc_id"))
    },

    // --- winnowing candidate pairs (shared fingerprints) ----------------
    "d124_winnowing_pairs" -> { (s, d) =>
      // The pair generator over the winnowing sketch: docs sharing ≥ 2
      // selected fingerprints (df-capped buckets, like the containment
      // index) are near-dup candidates — the planted 30-token re-embeds
      // of exactSubstrCorpus must all surface. Only slim (hash, id)
      // longs shuffle.
      graft.ops.TextDedup.winnowingPairs(exactSubstrCorpus(s, d))
        .orderBy(col("a"), col("b"))
    },

    // --- KMV/theta-sketch snapshot overlap (intersection sans join) -----
    "d125_kmv_snapshot_overlap" -> { (s, d) =>
      // "How much of crawl B is already in crawl A" answered WITHOUT
      // joining the corpora: each side reduces to its 256 smallest
      // content hashes (map-side top-k), the estimate is a pure
      // function of the two tiny sketches. Crawls overlap on ids ≡ 2
      // (mod 4) by construction, so the estimate has a known target.
      val docs = t(s, d, "documents")
      graft.ops.Corpus.kmvOverlap(
        docs.where(col("doc_id") % 4 =!= 0),
        docs.where(col("doc_id") % 2 === 0))
    },

    // --- data-constrained mixture planning (epoching math) --------------
    "d126_data_constrained_plan" -> { (s, d) =>
      // Epoching math for a fixed token budget: unique tokens per
      // source via exact content dedup, an equal slice of a 4×-unique
      // budget, and the published diminishing-returns fit for repeated
      // data (D' = U + U·R*·(1−e^(−R/R*))) — the per-source numbers
      // that say "stop repeating this slice, crawl more instead". A
      // planted duplicate tail proves dedup feeds the U column.
      val docs = t(s, d, "documents")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 8200000L))
      graft.ops.Corpus.dataConstrainedPlan(corpus)
        .orderBy(col("source"))
    },

    // --- classifier operating-point sweep (PR curve) --------------------
    "d127_threshold_sweep" -> { (s, d) =>
      // The full operating curve BEFORE a score gates the corpus:
      // per-threshold confusion counts and precision/recall/F1 on a
      // 20-point grid (d116's AUC collapses this to one number; this
      // is the table you pick the cut from). The corpus folds map-side
      // to 20 exact integer rows — the window runs on the grid.
      val docs = t(s, d, "documents")
      val scored = graft.ops.Corpus.qualityScore(docs)
      graft.ops.Corpus.thresholdSweep(scored, col("quality"),
          col("n_tokens") >= 40L)
        .orderBy(col("bucket"))
    },

    // --- soft dedup: down-weight, don't delete --------------------------
    "d128_soft_dedup_weights" -> { (s, d) =>
      // The sampling-weight form of exact dedup: a cluster of c
      // identical copies keeps every row at ⌊10⁶/c⌋ ppm — coverage
      // preserved, over-representation gone. Planted double and
      // triple copies exercise c ∈ {2, 3}; per-source effective-token
      // accounting stays an exact BIGINT sum.
      val docs = t(s, d, "documents")
      val corpus = docs
        .unionByName(docs.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 8300000L))
        .unionByName(docs.where(col("doc_id") % 27 === 0)
          .withColumn("doc_id", col("doc_id") + 8400000L))
      graft.ops.Corpus.softDedupWeights(corpus)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("gross_tokens"),
          sum(col("n_toks") * col("weight_ppm")).as("eff_tokens_e6"))
        .withColumn("eff_tokens",
          round(col("eff_tokens_e6").cast(DoubleType) / 1000000.0, 3))
        .withColumn("dup_overhead",
          round(col("gross_tokens").cast(DoubleType) / col("eff_tokens"), 6))
        .orderBy(col("source"))
    },

    // --- cross-lingual bitext candidate mining --------------------------
    "d129_bitext_candidates" -> { (s, d) =>
      // Translated page pairs share the untranslatable tokens —
      // numbers. Planted en/fr doc pairs carry three rare numerals
      // (injective residues → df exactly 2) plus one numeral common
      // to every plant that the df cap must drop; candidates are
      // cross-language pairs sharing ≥ 2 surviving numerals.
      val docs = t(s, d, "documents")
      val base = docs.where(col("doc_id") % 11 === 0)
      def sig(prefix: String) = concat(lit(prefix),
        (col("doc_id") * 7919 % 90000 + 10000).cast(StringType), lit(" "),
        (col("doc_id") * 104729 % 900000 + 100000).cast(StringType), lit(" "),
        (col("doc_id") * 29 % 9000000 + 1000000).cast(StringType),
        lit(" 555000"))
      val en = base.select((col("doc_id") + 8500000L).as("doc_id"),
        sig("station report ").as("text"), lit("en").as("lang"))
      val fr = base.select((col("doc_id") + 8600000L).as("doc_id"),
        sig("rapport de station ").as("text"), lit("fr").as("lang"))
      val corpus = docs.select(col("doc_id"), col("text"), col("lang"))
        .unionByName(en).unionByName(fr)
      graft.ops.Corpus.bitextCandidates(corpus)
        .orderBy(col("a"), col("b"))
    },

    // --- Kneser-Ney bigram LM (continuation-smoothed) -------------------
    "d130_kneser_ney_bigrams" -> { (s, d) =>
      // The LM behind perplexity filtering, trained IN the engine:
      // interpolated Kneser-Ney at order 2, where continuation counts
      // price a word by how many contexts it follows, not how often it
      // occurs. Exact integer counts; one scalar float formula per
      // BIGRAM (never a cross-row float fold); top-40 by raw count
      // with a deterministic (a, b) tie-break.
      graft.ops.Corpus.kneserNeyBigrams(t(s, d, "documents"))
    },

    // --- perplexity head/middle/tail buckets (rank-based) ---------------
    "d131_perplexity_tertiles" -> { (s, d) =>
      // The head/middle/tail split web-corpus releases ship: the
      // integer-exact unigram surprisal signal (d80) feeds per-source
      // ntile(3) — RANK-based buckets, so no float quantile has to
      // agree across engines. Per-source windows only (domain-sized
      // partitions, the d119 rule); the tf stream shuffles once.
      val (tf, out) = perplexityTertilesPlan(s, d)
      val result = out.localCheckpoint(true)
      tf.unpersist()
      result
    },

    // --- l-diversity audit (the attack k-anonymity misses) --------------
    "d132_l_diversity" -> { (s, d) =>
      // A cell can be k-anonymous and still leak: if all 40 docs of a
      // (lang, length-bucket) group come from ONE source, group
      // membership reveals the source. l-diversity requires ≥ l
      // distinct sensitive values per quasi-identifier group; both
      // counts collapse in one exact-integer aggregate.
      t(s, d, "documents")
        .groupBy(col("lang"), expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("k_count"),
          countDistinct(col("source")).as("l_count"))
        .withColumn("diverse", col("l_count") >= 3)
        .orderBy(col("lang"), col("len_bucket"))
    },

    // --- exact n-gram decontamination (the verbatim half of d81) --------
    "d133_exact_ngram_decontam" -> { (s, d) =>
      // GPT-3/PaLM-style: flag train docs containing ANY eval 8-gram
      // verbatim. Eval = the d81 bench slice; the planted corpus
      // guarantees contaminated rows (every bench doc's planted copy
      // lands in train and shares all but its tail grams). Eval grams
      // broadcast; train grams probe inside the scan — only per-doc
      // counters cross the shuffle.
      val all = corpusWithPlants(s, d)
      val isBench = col("doc_id") % 50 === 0 && col("doc_id") < 1000000L
      graft.ops.TextDedup.exactNgramContamination(
        all.where(!isBench), all.where(isBench), n = 8)
        .orderBy("doc_id")
    },

    // --- Matryoshka truncation QA: prefix-dim retrieval recall ----------
    "d134_matryoshka_recall" -> { (s, d) =>
      // How far can an embedding be cut for cheap prefiltering?
      // Recall@5 of the first-16-dims ranking against the full-64-dims
      // ground truth — the metric that sizes a Matryoshka prefix
      // index. Both rankings are exact-int cosine (same broadcast-
      // queries / corpus-streams-once shape as d34), so recall is
      // engine-exact and the oracle replays it verbatim.
      val e = quantizedEmbeddings(s, d, plant = false)
      val qs = e.where(col("vec_id") >= 100 && col("vec_id") < 110)
      def prefix(df: DataFrame): DataFrame = df
        .select(col("vec_id"), expr("slice(q, 1, 16)").as("q"))
        .withColumn("nrm", expr("graft_dot_i64(q, q)"))
      val full = graft.ops.Embeddings.bruteForceTopK(e, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val trunc = graft.ops.Embeddings.bruteForceTopK(prefix(e), prefix(qs), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = trunc.join(full, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("query_id"))
        // hits is queries-sized — broadcast it rather than letting the
        // 10-row outer join plan a sort-merge exchange
        .join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / 5.0).as("recall_at_5"))
        .orderBy(col("query_id"))
    },

    // --- cross-source vocabulary overlap (mixture-design diagnostic) ----
    "d135_source_vocab_overlap" -> { (s, d) =>
      // How redundant are two sources lexically? Pairwise Jaccard of
      // their vocabularies. The (source, token) table collapses to
      // vocab size at the FIRST aggregate — everything after joins
      // side tables; doc text never crosses an exchange. Jaccard in
      // exact integer ppm, no float folds.
      val st = t(s, d, "documents")
        .select(col("source"), explode(array_distinct(
          split(lower(trim(col("text"))), "\\s+"))).as("tok"))
        .distinct()
      val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
      st.as("a").join(st.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
          expr("n_shared * 1000000 div (n_a + n_b - n_shared)").as("jaccard_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // --- Kolmogorov–Smirnov length drift between sources -----------------
    "d136_ks_length_drift" -> { (s, d) =>
      // Are two sources drawing document lengths from the same
      // distribution? KS = max CDF gap, evaluated on the shared grid
      // of observed n_chars values. The corpus collapses to a
      // (source, n_chars) count table at the first aggregate; the
      // grid × source frame is value-bounded, so the per-source
      // cumulative window and the pairwise max are side-table work.
      // CDFs in exact integer ppm — engine-identical.
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, d, "documents")
        .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
      val grid = counts.select(col("n_chars")).distinct()
        .crossJoin(counts.select(col("source")).distinct())
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      val cdf = grid.join(counts, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("total", sum(col("c")).over(
          Window.partitionBy(col("source"))))
        .select(col("source"), col("n_chars"),
          expr("cum * 1000000 div total").as("cdf_ppm"))
      cdf.as("a").join(cdf.as("b"),
          col("a.n_chars") === col("b.n_chars") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(max(abs(col("a.cdf_ppm") - col("b.cdf_ppm"))).as("ks_ppm"))
        .withColumn("drifted", col("ks_ppm") >= 100000)
        .orderBy(col("src_a"), col("src_b"))
    },

    // --- code-vs-prose routing (StarCoder/RedPajama-style) ---------------
    "d137_code_detection" -> { (s, d) =>
      // Code wants different tokenization, dedup, and mixture weights
      // than prose, so pipelines route on cheap char-class evidence
      // BEFORE any model runs: symbol density, brace/semicolon counts.
      // Planted code docs (deterministic, id-derived — the oracle
      // rebuilds them) must flag; the natural word-soup corpus must
      // not. All signals are per-row codegen regex/length math riding
      // the scan — integer permille, no shuffle until the final
      // order-by on the (tiny) flagged set.
      val code = s.range(40).select(
        (col("id") + 9100000L).as("doc_id"),
        concat(lit("def fn(x) { return x * "), col("id"),
          lit("; } // auto var y = (x + "), col("id"),
          lit("); if (y > 0) { y = y - 1; }")).as("text"))
      val all = t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(code)
      all.select(col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars"),
          length(regexp_replace(col("text"), "[A-Za-z0-9 ]", ""))
            .cast(LongType).as("n_symbols"),
          (length(col("text"))
            - length(regexp_replace(col("text"), "[{}]", "")))
            .cast(LongType).as("n_braces"),
          (length(col("text"))
            - length(regexp_replace(col("text"), ";", "")))
            .cast(LongType).as("n_semis"))
        .withColumn("symbol_permille",
          // greatest-guard: a future empty-text doc must not divide by zero
          expr("n_symbols * 1000 div greatest(n_chars, 1)"))
        .where(col("symbol_permille") >= 60 && col("n_braces") >= 2)
        .orderBy(col("doc_id"))
    },

    // --- t-closeness audit (completes the k-anon / l-div privacy suite) --
    "d138_t_closeness" -> { (s, d) =>
      // l-diversity (d132) counts distinct sensitive values; t-closeness
      // bounds how far a group's sensitive-value DISTRIBUTION may sit
      // from the global one (a group can have all l values yet be 99%
      // one of them). Distance = total variation in exact integer ppm
      // over the complete group × source grid — a source absent from a
      // group contributes its full global mass. Everything after the
      // first aggregate is group-count-sized.
      val docs = t(s, d, "documents")
      val cells = docs.groupBy(col("lang"),
          expr("n_chars div 100").as("len_bucket"), col("source"))
        .agg(count(lit(1)).as("c"))
      val groups = cells.groupBy(col("lang"), col("len_bucket"))
        .agg(sum(col("c")).as("g_total"))
      val global = cells.groupBy(col("source")).agg(sum(col("c")).as("s_total"))
      val grand = global.agg(sum(col("s_total")).as("n_total"))
      groups.crossJoin(global) // complete group × source grid — tiny
        .join(cells, Seq("lang", "len_bucket", "source"), "left")
        .na.fill(0L, Seq("c"))
        .crossJoin(broadcast(grand))
        .withColumn("diff", abs(expr("c * 1000000 div g_total")
          - expr("s_total * 1000000 div n_total")))
        .groupBy(col("lang"), col("len_bucket"), col("g_total"))
        .agg(expr("sum(diff) div 2").as("tv_ppm"))
        .withColumn("t_close", col("tv_ppm") <= 500000)
        .orderBy(col("lang"), col("len_bucket"))
    },

    // --- Count-Min Sketch frequency estimates (completes the sketch
    //     family: HLL cardinality, Misra-Gries heavy hitters, KMV
    //     overlap, mergeable quantiles — CMS is point frequency) ------
    "d139_count_min_sketch" -> { (s, d) =>
      // 4 hash rows × 256 buckets = a 1024-cell integer sketch. In
      // production the cells aggregate map-side from raw occurrences
      // (4 ints per token, memory vocab-FREE — the reason to accept
      // overestimates); here the gate builds it from the exact count
      // table (mathematically identical: CMS inserts are additive) so
      // estimate vs truth is auditable in one query. Every number is
      // an exact integer on a deterministic md5-60 bucket hash — the
      // oracle replays the whole sketch bit-for-bit.
      graft.functions.BitSketchExpressions.register(s)
      val counts = t(s, d, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("c_true"))
      val probes = counts.select(col("tok"), col("c_true"), explode(expr(
          """transform(sequence(0, 3),
            |  r -> struct(r AS r,
            |    pmod(graft_md5_60(concat('cms', r, ':', tok)), 256) AS b))"""
            .stripMargin)).as("rb"))
        .select(col("tok"), col("c_true"), col("rb.r").as("r"), col("rb.b").as("b"))
      val sketch = probes.groupBy(col("r"), col("b"))
        .agg(sum(col("c_true")).as("cell"))
      probes.join(broadcast(sketch), Seq("r", "b"))
        .groupBy(col("tok"), col("c_true")).agg(min(col("cell")).as("c_est"))
        .orderBy(col("c_true").desc, col("tok")).limit(20)
        .select(col("tok"), col("c_true"), col("c_est"),
          (col("c_est") - col("c_true")).as("overestimate"))
    },

    // --- output-shard skew audit: does the writer's own hash balance? --
    "d140_shard_skew_audit" -> { (s, d) =>
      // Before a 100 TB epoch writes, audit the shard assignment the
      // writer will use: per-shard doc and token loads under the same
      // content-hash sharding, load_permille = this shard's token share
      // of a perfectly flat split (1000 = exactly balanced). A skewed
      // shard here is a straggler executor later. One map-side-combined
      // aggregate; the 32-row shard table does the rest.
      graft.functions.BitSketchExpressions.register(s)
      val shards = t(s, d, "documents")
        .select(expr("pmod(graft_md5_60(concat('shard', doc_id)), 32)").as("shard"),
          size(split(lower(trim(col("text"))), "\\s+")).cast(LongType).as("n_toks"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      val total = shards.agg(sum(col("n_tokens")).as("t_total"))
      shards.crossJoin(broadcast(total))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 32 * 1000 div t_total").as("load_permille"))
        .orderBy(col("shard"))
    },

    // --- vocabulary growth curve (Heaps' law checkpoint table) ----------
    "d141_vocab_growth_curve" -> { (s, d) =>
      // How fast does the corpus stop saying new things? Distinct
      // trigram count at 10 cumulative hash-slices of the corpus — the
      // curve that prices dedup ROI and corpus-extension value. ONE
      // pass: each trigram keeps the MIN slice where it first appears,
      // then a 10-row cumulative window — never 10 rescans. Exact
      // integer counts; the oracle replays slice hashes and shingles.
      graft.functions.BitSketchExpressions.register(s)
      val sliced = t(s, d, "documents")
        .select(expr("pmod(graft_md5_60(concat('slice', doc_id)), 10)").as("slice"),
          split(lower(trim(col("text"))), "\\s+").as("toks"))
        .where(size(col("toks")) >= 3)
      val firstSeen = sliced
        .select(col("slice"), explode(array_distinct(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> graft_md5_60(concat_ws(' ', slice(toks, i, 3))))"""
            .stripMargin))).as("g"))
        .groupBy(col("g")).agg(min(col("slice")).as("first_slice"))
      val perSlice = firstSeen.groupBy(col("first_slice").as("slice"))
        .agg(count(lit(1)).as("n_new"))
      val docsPer = sliced.groupBy(col("slice"))
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.orderBy(col("slice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docsPer.join(perSlice, Seq("slice"), "left")
        .na.fill(0L, Seq("n_new"))
        // 10-row frame: the global window is value-bounded by design
        .withColumn("n_docs_cum", sum(col("n_docs")).over(w))
        .withColumn("n_trigrams_cum", sum(col("n_new")).over(w))
        .select(col("slice"), col("n_docs_cum"), col("n_new"), col("n_trigrams_cum"))
        .orderBy(col("slice"))
    },

    // --- filter funnel: per-source attrition through staged filters -----
    "d142_filter_funnel" -> { (s, d) =>
      // The report every cleaning pipeline ships with: how many docs
      // (and tokens) each source loses at each filter stage, applied in
      // order — a doc is charged to the FIRST stage that rejects it, so
      // the stage counts sum exactly to the corpus. One scan: the stage
      // label is a per-row CASE over cheap codegen signals; only
      // (source, stage) counters cross the shuffle.
      t(s, d, "documents")
        .select(col("source"),
          split(lower(trim(col("text"))), "\\s+").as("toks"),
          length(col("text")).cast(LongType).as("n_chars"))
        .select(col("source"), size(col("toks")).cast(LongType).as("n_words"),
          col("n_chars"),
          expr("""size(filter(toks, t -> t in ('the','a','of','and','to','in','is')))""")
            .cast(LongType).as("n_stop"))
        .withColumn("stage", expr(
          """CASE
            |  WHEN n_words < 10 OR n_words > 5000 THEN '1_length'
            |  WHEN n_chars < n_words * 3 OR n_chars > n_words * 12 THEN '2_word_shape'
            |  WHEN n_stop * 50 < n_words THEN '3_stopword'
            |  ELSE '4_kept' END""".stripMargin))
        .groupBy(col("source"), col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
        .orderBy(col("source"), col("stage"))
    },

    // --- cross-source score calibration (per-source quantile mapping) ---
    "d144_score_calibration" -> { (s, d) =>
      // A raw quality score is not comparable across sources (each
      // source has its own score distribution), so mixture filters
      // calibrate: replace the score with its WITHIN-SOURCE quantile
      // rank. Exact integer ppm from row_number over each source
      // (deterministic (score, doc_id) tie-break); the per-source sort
      // parallelizes across sources — the sketch-based approximation
      // for wider-than-a-source distributions is the d95 path. Gate
      // emits a deterministic ~1% id sample.
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          split(lower(trim(col("text"))), "\\s+").as("toks"))
        .select(col("doc_id"), col("source"),
          expr("""(size(filter(toks, t -> t in ('the','a','of','and','to','in','is'))) * 1000)
                 | div greatest(size(toks), 1)""".stripMargin)
            .cast(LongType).as("score"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score"), col("doc_id"))
      scored
        .withColumn("r", row_number().over(w).cast(LongType) - 1L)
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("cal_ppm", expr("r * 1000000 div greatest(n - 1, 1)"))
        .where(col("doc_id") % 29 === 0)
        .select(col("doc_id"), col("source"), col("score"), col("cal_ppm"))
        .orderBy(col("doc_id"))
    },

    // --- duplicate-cluster size distribution (dedup ROI shape) ----------
    "d143_dup_cluster_histogram" -> { (s, d) =>
      // Is duplication a long tail of pairs or a few mega-clusters? The
      // answer decides dedup strategy (pair joins vs hot-key handling).
      // Exact-dup clusters by normalized content hash, bucketed by
      // ⌊log2 size⌋ = length(bin(size)) - 1 — the same integer-exact
      // bits trick the surprisal gates use, no float logs. Two slim
      // aggregates; text collapses to 16-byte hashes map-side.
      // EXACT copies planted at graded multiplicities (the usual " zzz"
      // plants are near-dups, invisible to a content-hash histogram):
      // %10 docs get 1 copy, %20 a 2nd, %40 a 3rd and 4th → cluster
      // sizes 1/2/3/5 → buckets 0/1/1/2.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.where(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionByName(docs.where(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L))
        .unionByName(docs.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", col("doc_id") + 4000000L))
        .unionByName(docs.where(col("doc_id") % 40 === 0)
          .withColumn("doc_id", col("doc_id") + 5000000L))
      planted
        .select(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("csize"))
        .withColumn("log2_bucket", (length(bin(col("csize"))) - 1).cast(LongType))
        .groupBy(col("log2_bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
        .orderBy(col("log2_bucket"))
    }
  )

  /** The five d05 stopword-profile scores (en, de, es, fr, zh) of a
    * token-array SQL expression as one array — d101 hoists this into
    * a column so each filter pass evaluates ONCE, with the argmax and
    * hit-count reading the array.
    */
  private def langScoresExpr(toksCol: String): String = {
    def sc(set: String) = s"size(filter($toksCol, t -> t in ($set)))"
    s"array(${sc("'the','a','of','and','to','in','is'")}, " +
      s"${sc("'der','die','das','und','ist','nicht','mit'")}, " +
      s"${sc("'el','la','de','que','y','en','los'")}, " +
      s"${sc("'le','les','et','des','un','une','est'")}, " +
      s"${sc("'的','是','不','了','在','我','有'")})"
  }

  /** d30 inputs: history = 3/4 of the corpus; new batch = fresh docs +
    * exact re-crawls + edited revisions.
    */
  private def incrementalDedupInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    val history = docs.where(col("doc_id") % 4 =!= 0)
    val newBatch = docs.where(col("doc_id") % 4 === 0) // fresh docs
      .unionByName(history.where(col("doc_id") % 8 === 1) // re-crawled exact copies
        .withColumn("doc_id", col("doc_id") + 2000000L))
      .unionByName(history.where(col("doc_id") % 8 === 3) // edited revisions
        .withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", concat(col("text"), lit(" update"))))
    (history, newBatch)
  }

  /** (band, bucket-hash, id) LSH rows of a corpus — the d07 banding
    * as a standalone projection, for index build and probe.
    */
  private def lshBands(docs: DataFrame): DataFrame =
    graft.ops.TextDedup.shingled(docs)
      .withColumn("mh", expr("graft_minhash32(shingles)"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 7),
          |  b -> struct(b as band, graft_md5_60(concat_ws(',', slice(mh, b*4+1, 4))) as bh))""".stripMargin)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bh").as("bh"))

  /** JVM-lifetime LSH index fixture: the history corpus's banded
    * MinHash rows as a catalog table BUCKETED BY THE JOIN KEY
    * (band, bh) — the on-disk layout an incremental dedup service
    * maintains at 100 TB, so every probe joins WITHOUT shuffling the
    * index side. Keyed per application + source dir (the bench JVM
    * runs many sessions).
    */
  private val builtLshIdx = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def ensureLshIndex(s: SparkSession, d: String): Unit = {
    val key = s"${s.sparkContext.applicationId}|$d"
    builtLshIdx.synchronized {
      if (!builtLshIdx.contains(key)) {
        s.sql("DROP DATABASE IF EXISTS graft__pidx CASCADE")
        val loc = Scratch.onDisk("graft_pidx")
        s.sql(s"CREATE DATABASE graft__pidx LOCATION '$loc'")
        val (history, _) = incrementalDedupInputs(s, d)
        lshBands(history).withColumnRenamed("doc_id", "hist_id")
          .write.bucketBy(8, "band", "bh").sortBy("band", "bh")
          .option("path", Scratch.onDisk("lsh_idx"))
          .mode("overwrite").saveAsTable("graft__pidx.lsh_index")
        builtLshIdx.add(key)
      }
    }
  }

  /** d102 core: probe the bucketed LSH index with the new batch's
    * bands; per batch doc, the distinct history candidates. With
    * `pinNoBroadcast` the physical plan is forced to the large-large
    * shape (sort-merge against the bucketed index, probe side the only
    * exchange) and pinned for the plan audit — at gate scale Catalyst
    * rightly broadcasts the small probe side instead.
    */
  private[graft] def lshIndexProbePlan(s: SparkSession, d: String,
      pinNoBroadcast: Boolean = false): DataFrame = {
    ensureLshIndex(s, d)
    val (_, batch) = incrementalDedupInputs(s, d)
    def build(): DataFrame =
      lshBands(batch).join(s.table("graft__pidx.lsh_index"), Seq("band", "bh"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("hist_id")).as("n_cand_docs"),
          min(col("hist_id")).as("min_hist"))
        .orderBy(col("doc_id"))
    if (!pinNoBroadcast) build()
    else {
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val df = build()
        df.queryExecution.executedPlan // pin inside the conf window
        df
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  /** d30 core with lazy internals — for the plan audit (the gate's
    * eager localCheckpoint collapses the executed plan).
    */
  private[graft] def incrementalDedupPlan(s: SparkSession, d: String): DataFrame = {
    val (history, newBatch) = incrementalDedupInputs(s, d)
    graft.ops.TextDedup.incrementalDedup(history, newBatch, materialize = false)
      .orderBy(col("doc_id"))
  }

  /** d08 core with lazy internals — for the plan audit. */
  private[graft] def jaccardPairsPlan(s: SparkSession, d: String): DataFrame =
    graft.ops.TextDedup.jaccardPairs(corpusWithPlants(s, d), materialize = false)

  /** d47 core: planted 40-token-prefix copies over the corpus, through
    * [[graft.ops.TextDedup.spanPairs]]. `materialize = false` keeps the
    * lazy plan for the audit.
    */
  private[graft] def spanDedupPlan(s: SparkSession, d: String,
      materialize: Boolean): DataFrame = {
    val docs = t(s, d, "documents")
    val planted = docs.where(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + 5000000L)
      .withColumn("text", concat(
        concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 40)),
        lit(" distinct tail marker"), (col("doc_id") % 97).cast("string")))
    graft.ops.TextDedup.spanPairs(docs.unionByName(planted),
      minShared = 2, sampleMod = 4, materialize = materialize)
  }

  /** d25 core, pre-checkpoint — split out so the plan audit can see
    * the real pipeline. The IVF centroids (d12) seeded from sample
    * vectors get two full Lloyd updates: broadcast centroids → assign
    * (exact-int L2²) → re-average per component. Centroid components
    * round with floor(mean + 0.5) — identical semantics in any engine
    * — so the refined centroids, memberships, and inertia all
    * hash-check. Per iteration: one broadcast join + one (cent, pos)
    * aggregate; the corpus shuffles nothing but slim assignment rows.
    * Returns (persisted embeddings handle — caller must unpersist,
    * final frame).
    */
  private[graft] def kmeansRefinePlan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = quantizedEmbeddings(s, d, plant = false).select(col("vec_id"), col("q")).persist()
    val init = e.where(col("vec_id") < 16).select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val refined = graft.ops.Embeddings.kmeansRefine(e, init, iters = 2)
    val out = graft.ops.Embeddings.assignToCentroids(e, refined)
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
      .orderBy(col("cent_id"))
    (e, out)
  }

  /** d86 core, pre-checkpoint — split out so the plan audit can see
    * the real pipeline (the gate's eager localCheckpoint collapses the
    * executed plan to an ExistingRDD scan). Returns (persisted tf
    * handle — caller must unpersist, final frame).
    */
  /** d103/d104 core: chat-style turns from per-user event streams.
    * Sessionize on a 30-minute gap, map view/click → 'user' and the
    * rest → 'assistant', then collapse consecutive same-role messages
    * into turns (gaps-and-islands twice) and drop 1-turn
    * conversations. The scale shape: every window and the turn
    * aggregation cluster on user_id prefixes, so Catalyst plans ONE
    * exchange (hash by user_id) for the whole chain — per-user streams
    * are bounded, no global sort anywhere. Turn text is
    * order-deterministic via array_sort over (ts, event_id, content)
    * structs, never a bare collect_list.
    */
  /** m12 core (pre-sort): real WAV decode → integer-exact 3/2-rate
    * linear interpolation as declarative array math (see the gate
    * comment). Split out so `PlanAuditSpec` can pin the shape: the
    * decode `mapPartitions` is the ONLY object boundary and the
    * interpolation stays inside whole-stage codegen with no exchange.
    */
  private[graft] def audioResamplePlan(s: SparkSession, d: String): DataFrame = {
    val blobs = Multimodal.syntheticAudioBlobs(
      t(s, d, "documents").select(col("doc_id")))
    Multimodal.decodedAudioSamples(blobs)
      .where(col("n_in") >= 2)
      .withColumn("n_out", expr("(3 * n_in - 4) div 2 + 1"))
      .withColumn("r", expr(
        """transform(sequence(0, cast(n_out - 1 as int)), t ->
          |  (element_at(u, cast(t * 2 div 3 as int) + 1) * (3 - t * 2 % 3)
          |   + element_at(u, cast(t * 2 div 3 as int) + 2) * (t * 2 % 3)) div 3)""".stripMargin))
      .select(col("doc_id"), col("n_in"), col("n_out"),
        expr("aggregate(r, 0L, (a, x) -> a + x)").as("sum_r"),
        expr("array_join(transform(slice(r, 1, 8), x -> cast(x as string)), ',')")
          .as("r_head"))
  }

  /** d105/d111 shared corpus: each 13th doc's tokens 10..39 re-embedded
    * behind a distinct head (id + 7,000,000) — a 30-token verbatim span
    * on a shifted diagonal at every SF.
    */
  private def exactSubstrCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val planted = docs.where(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 7000000L)
      .withColumn("text", expr(
        "concat('planted head marker words ', " +
          "array_join(slice(split(lower(trim(text)), '\\\\s+'), 10, 30), ' '), " +
          "' tail', cast(doc_id % 89 as string))"))
    docs.unionByName(planted)
  }

  private[graft] def chatTurnsPlan(s: SparkSession, d: String): DataFrame =
    graft.ops.Chat.turns(t(s, d, "events").select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type").isin("view", "click"), lit("user"))
        .otherwise(lit("assistant")).as("role"),
      col("event_type").as("content")))

  /** d109 variant of [[chatTurnsPlan]] with richer message content
    * (`event_type:k` from the props JSON) so assistant turn texts have
    * real vocabulary — corpus-wide duplicate turns then measure
    * templating, not the 5-word event_type alphabet.
    */
  private[graft] def chatRichTurnsPlan(s: SparkSession, d: String): DataFrame =
    graft.ops.Chat.turns(t(s, d, "events").select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type").isin("view", "click"), lit("user"))
        .otherwise(lit("assistant")).as("role"),
      concat(col("event_type"), lit(":"),
        get_json_object(col("props"), "$.k")).as("content")))

  /** d131's pre-checkpoint plan, shared with the plan audit (the
    * gate's eager checkpoint hides it from the executed plan): d80's
    * tf → mean-bits signal joined to sources, per-source ntile(3),
    * tertile accounting. Caller owns the returned tf persist.
    */
  private[graft] def perplexityTertilesPlan(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val counts = tf.groupBy("term").agg(sum(col("tf")).as("c"))
      .withColumn("bits", length(bin(col("c"))).cast(LongType))
    val perDoc = tf.join(counts, "term")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .withColumn("mean_bits_permille", expr("sum_bits * 1000 div n_tok"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("mean_bits_permille"), col("doc_id"))
    val out = perDoc.withColumn("tertile", ntile(3).over(w))
      .groupBy(col("source"), col("tertile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        min(col("mean_bits_permille")).as("min_permille"),
        max(col("mean_bits_permille")).as("max_permille"))
      .withColumn("bucket",
        when(col("tertile") === 1, lit("head"))
          .when(col("tertile") === 2, lit("middle"))
          .otherwise(lit("tail")))
      .orderBy(col("source"), col("tertile"))
    (tf, out)
  }

  private[graft] def bigramSurprisalPlan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      // one-token docs make sequence(1, 0) DESCEND ([1, 0]) and
      // element_at(toks, 0) throw — same guard as d38/d59
      .where(size(col("toks")) >= 2)
    val tfb = toks.select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.a"), col("p.b"))
      .where(col("a") =!= "" && col("b") =!= "")
      .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("tf"))
      .persist()
    val bi = tfb.groupBy("a", "b").agg(sum(col("tf")).as("f_ab"))
    val uni = tfb.groupBy("a").agg(sum(col("tf")).as("f_a"))
    val out = tfb
      .join(bi, Seq("a", "b")).join(uni, Seq("a"))
      .withColumn("sbits",
        (length(bin(col("f_a"))) - length(bin(col("f_ab")))).cast(LongType))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("sbits")).as("sum_bits"))
      .withColumn("mean_bits_permille", expr("sum_bits * 1000 div n_bigrams"))
      .orderBy(col("mean_bits_permille").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        col("mean_bits_permille"))
    (tfb, out)
  }

  /** Interleaves the low 16 bits of a non-negative long with zeros
    * (Morton spread: bit i moves to bit 2i) via the classic
    * shift-and-mask ladder — four codegen'd integer ops per step, no
    * UDF. Two spread dims OR'd (x + 2*y) give the Z-order curve key.
    */
  private def mortonSpread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m0 = c.bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) curve key for two non-negative dims (low 16 bits
    * each): `repartitionByRange(zorderKey(x, y)).sortWithinPartitions`
    * before a parquet write clusters BOTH dims into every file, so
    * row-group min/max stats prune either predicate. See the
    * d60_zorder_layout gate and ZOrder layout audit in PlanAuditSpec.
    */
  def zorderKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    mortonSpread(x).bitwiseOR(shiftleft(mortonSpread(y), 1))

  val oracleSql: Map[String, String] = {
    val planted =
      """WITH corpus AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text, lang
        |  FROM documents WHERE doc_id % 10 = 0
        |)""".stripMargin
    // DuckDB mirror of langIdExpr/langHitsExpr (list_* spellings)
    def duckLang(tcol: String): String = {
      def sc(set: String) = s"len(list_filter($tcol, t -> t IN ($set)))"
      val en = sc("'the','a','of','and','to','in','is'")
      val de = sc("'der','die','das','und','ist','nicht','mit'")
      val es = sc("'el','la','de','que','y','en','los'")
      val fr = sc("'le','les','et','des','un','une','est'")
      val zh = sc("'的','是','不','了','在','我','有'")
      s"""CASE
         |    WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
         |    WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
         |    WHEN $es >= $fr AND $es >= $zh THEN 'es'
         |    WHEN $fr >= $zh THEN 'fr'
         |    ELSE 'zh' END""".stripMargin
    }
    def duckHits(tcol: String): String = {
      def sc(set: String) = s"len(list_filter($tcol, t -> t IN ($set)))"
      s"greatest(${sc("'the','a','of','and','to','in','is'")}, " +
        s"${sc("'der','die','das','und','ist','nicht','mit'")}, " +
        s"${sc("'el','la','de','que','y','en','los'")}, " +
        s"${sc("'le','les','et','des','un','une','est'")}, " +
        s"${sc("'的','是','不','了','在','我','有'")})"
    }
    // d103/d104 shared turns chain: sessionize → role islands → turns
    val chatTurnsCte =
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    event_type AS content
        |  FROM events
        |), s AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), c AS (
        |  SELECT *, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS conv_idx
        |  FROM s
        |), r AS (
        |  SELECT *, CASE WHEN lag(role) OVER w2 IS DISTINCT FROM role
        |    THEN 1 ELSE 0 END AS tbrk
        |  FROM c WINDOW w2 AS (
        |    PARTITION BY user_id, conv_idx ORDER BY ts, event_id)
        |), tr AS (
        |  SELECT *, sum(tbrk) OVER (
        |    PARTITION BY user_id, conv_idx ORDER BY ts, event_id) AS turn_idx
        |  FROM r
        |), turns AS (
        |  SELECT user_id, conv_idx, turn_idx, role,
        |    CAST(count(*) AS BIGINT) AS n_msgs,
        |    string_agg(content, ' ' ORDER BY ts, event_id) AS turn_text
        |  FROM tr GROUP BY 1, 2, 3, 4
        |), tt AS (
        |  SELECT *, max(turn_idx) OVER (
        |    PARTITION BY user_id, conv_idx) AS n_turns
        |  FROM turns
        |)""".stripMargin

    // d109 variant: message content = event_type:k (see chatRichTurnsPlan)
    val chatRichTurnsCte = chatTurnsCte.replace(
      "event_type AS content",
      "event_type || ':' || json_extract_string(props, '$.k') AS content")

    val mixedLangOracle =
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 9000000, text ||
         |    ' der die das und ist nicht mit und der ist das nicht mit der und', lang
         |  FROM documents WHERE lang = 'en' AND doc_id % 17 = 0
         |), halves AS (
         |  SELECT doc_id, lang,
         |    list_slice(toks, 1, len(toks) // 2) AS ta,
         |    list_slice(toks, len(toks) // 2 + 1, len(toks)) AS tb
         |  FROM (SELECT doc_id, lang,
         |          regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM corpus)
         |), scored AS (
         |  SELECT doc_id, lang,
         |    ${duckLang("ta")} AS lang_a,
         |    ${duckLang("tb")} AS lang_b,
         |    CAST(${duckHits("ta")} AS INT) AS hits_a,
         |    CAST(${duckHits("tb")} AS INT) AS hits_b
         |  FROM halves WHERE len(ta) > 0 AND len(tb) > 0
         |)
         |SELECT doc_id, lang, lang_a, lang_b, hits_a, hits_b
         |FROM scored
         |WHERE lang_a != lang_b AND hits_a >= 2 AND hits_b >= 2
         |ORDER BY doc_id""".stripMargin
    // banded-minhash rows of a (doc_id, text) CTE — d07's replay chain
    // parameterized by source table, for the index/probe oracle
    def duckBands(src: String): String =
      s"""SELECT doc_id, b,
         |    ('0x' || substring(md5(array_to_string(mh[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
         |  FROM (
         |    SELECT doc_id,
         |      list_transform(range(0, 32),
         |        j -> list_min(list_transform(hs, h -> (h * (1103515245 + 12345*j) + j * 987654321) % 2147483647))) AS mh
         |    FROM (
         |      SELECT doc_id,
         |        list_transform(
         |          list_distinct(list_transform(range(1, len(toks) - 1),
         |            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])),
         |          s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
         |      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM $src)
         |      WHERE len(toks) >= 3)),
         |  unnest(range(0, 8)) AS t(b)""".stripMargin

    Map(
      "d101_mixed_language_flags" -> mixedLangOracle,

      "d105_longest_shared_span" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7000000 AS doc_id,
          |    'planted head marker words ' ||
          |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 10, 39), ' ')
          |    || ' tail' || CAST((doc_id + 7000000) % 89 AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 13 = 0
          |), toksrc AS (
          |  SELECT doc_id,
          |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
          |      t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM corpus
          |), wins AS (
          |  SELECT doc_id, i AS pos,
          |    (list_sum(list_transform(range(0, 8),
          |       k -> (hs[i + 1 + k] * ([2003465299, 884122890, 2072267652, 294499921, 2248091, 17161, 131, 1])[k + 1]) % 2147483647))
          |     % 2147483647) * 2147483648
          |    + (list_sum(list_transform(range(0, 8),
          |       k -> (hs[i + 1 + k] * ([671643304, 1901585143, 1017084223, 352275361, 2571353, 18769, 137, 1])[k + 1]) % 2147483647))
          |     % 2147483647) AS wh
          |  FROM (SELECT doc_id, hs, unnest(range(0, len(hs) - 7)) AS i
          |        FROM toksrc WHERE len(hs) >= 8)
          |), rare AS (
          |  SELECT wh FROM wins GROUP BY wh HAVING count(1) BETWEEN 2 AND 32
          |), pw AS (
          |  SELECT w.doc_id, w.pos, w.wh FROM wins w JOIN rare USING (wh)
          |), m AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b, a.pos AS pa,
          |    a.pos - b.pos AS diag
          |  FROM pw a JOIN pw b ON a.wh = b.wh AND a.doc_id < b.doc_id
          |), g AS (
          |  SELECT a, b, diag,
          |    pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
          |  FROM m
          |), runs AS (
          |  SELECT a, b, diag, grp, count(1) + 7 AS span_toks
          |  FROM g GROUP BY 1, 2, 3, 4
          |)
          |SELECT a, b, CAST(max(span_toks) AS BIGINT) AS max_span,
          |  CAST(sum(CASE WHEN span_toks >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_spans
          |FROM runs GROUP BY 1, 2 HAVING max(span_toks) >= 16
          |ORDER BY a, b""".stripMargin,

      "d103_chat_turn_assembly" ->
        s"""$chatTurnsCte
           |SELECT user_id, CAST(conv_idx AS BIGINT) AS conv_idx,
           |  CAST(turn_idx AS BIGINT) AS turn_idx, role, n_msgs, turn_text,
           |  CAST(n_turns AS BIGINT) AS n_turns
           |FROM tt WHERE n_turns >= 2
           |ORDER BY user_id, conv_idx, turn_idx""".stripMargin,

      "d104_context_window_pack" ->
        s"""$chatTurnsCte, k AS (
           |  SELECT *, sum(n_msgs) OVER (
           |    PARTITION BY user_id, conv_idx ORDER BY turn_idx DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revcum
           |  FROM tt WHERE n_turns >= 2
           |), f AS (
           |  SELECT *, (revcum <= 8 OR turn_idx = n_turns) AS kept FROM k
           |)
           |SELECT user_id, CAST(conv_idx AS BIGINT) AS conv_idx,
           |  CAST(n_turns AS BIGINT) AS n_turns,
           |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
           |  CAST(sum(CASE WHEN kept THEN n_msgs ELSE 0 END) AS BIGINT) AS kept_msgs,
           |  CAST(sum(CASE WHEN NOT kept THEN n_msgs ELSE 0 END) AS BIGINT) AS dropped_msgs,
           |  arg_min(role, turn_idx) FILTER (WHERE kept) AS first_kept_role
           |FROM f GROUP BY 1, 2, 3
           |ORDER BY user_id, conv_idx""".stripMargin,

      "d106_pii_luhn_cards" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 4000000,
          |    text || ' card 4532015112830366 pin 4532015112830367'
          |  FROM documents WHERE doc_id % 22 = 0
          |  UNION ALL
          |  SELECT doc_id + 5000000, text || ' ref 4532015112830367'
          |  FROM documents WHERE doc_id % 22 = 11
          |), c AS (
          |  SELECT doc_id, regexp_extract_all(text, '\d{13,19}') AS cands
          |  FROM corpus
          |), v AS (
          |  SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_cands,
          |    CAST(len(list_filter(cands, n ->
          |      list_sum(list_transform(range(1, len(n) + 1), i ->
          |        CASE WHEN (i - 1) % 2 = 1 THEN
          |          CASE WHEN 2 * CAST(substring(reverse(n), i, 1) AS INT) > 9
          |            THEN 2 * CAST(substring(reverse(n), i, 1) AS INT) - 9
          |            ELSE 2 * CAST(substring(reverse(n), i, 1) AS INT) END
          |        ELSE CAST(substring(reverse(n), i, 1) AS INT) END)) % 10 = 0
          |    )) AS BIGINT) AS n_valid
          |  FROM c
          |)
          |SELECT doc_id, n_cands, n_valid, n_valid > 0 AS has_valid_card
          |FROM v WHERE n_cands > 0 ORDER BY doc_id""".stripMargin,

      "d107_preference_pairs" ->
        """WITH base AS (
          |  SELECT doc_id, source, lang, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM documents
          |), q AS (
          |  SELECT doc_id, source, lang,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM base
          |), top AS (
          |  SELECT source, lang, quality AS chosen_score, doc_id AS chosen_id,
          |    row_number() OVER (PARTITION BY source, lang
          |      ORDER BY quality DESC, doc_id ASC) AS rk
          |  FROM q
          |), bot AS (
          |  SELECT source, lang, quality AS rejected_score, doc_id AS rejected_id,
          |    row_number() OVER (PARTITION BY source, lang
          |      ORDER BY quality ASC, doc_id DESC) AS rk
          |  FROM q
          |)
          |SELECT t.source, t.lang, CAST(t.rk AS BIGINT) AS rk,
          |  t.chosen_id, b.rejected_id,
          |  round(t.chosen_score, 6) AS chosen_score,
          |  round(b.rejected_score, 6) AS rejected_score,
          |  round(t.chosen_score - b.rejected_score, 6) AS margin
          |FROM top t JOIN bot b
          |  ON t.source = b.source AND t.lang = b.lang AND t.rk = b.rk
          |WHERE t.rk <= 5 AND t.chosen_id != b.rejected_id
          |  AND t.chosen_score - b.rejected_score >= 0.05
          |ORDER BY t.source, t.lang, t.rk""".stripMargin,

      "d108_script_profile" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 6100000, text || ' привет мир поток данных слово'
          |    FROM documents WHERE doc_id % 17 = 0
          |  UNION ALL SELECT doc_id + 6200000, text || ' γειά σου κόσμος λέξη γλώσσα'
          |    FROM documents WHERE doc_id % 17 = 1
          |  UNION ALL SELECT doc_id + 6300000, text || ' 你好世界数据语言文字模型训练语料库文本处理分析'
          |    FROM documents WHERE doc_id % 17 = 2
          |  UNION ALL SELECT doc_id + 6400000, text || ' مرحبا بالعالم بيانات لغة نص'
          |    FROM documents WHERE doc_id % 17 = 3
          |), p AS (
          |  SELECT doc_id,
          |    CAST(length(regexp_replace(text, '[^\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
          |    CAST(length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic,
          |    CAST(length(regexp_replace(text, '[^\p{Greek}]', '', 'g')) AS BIGINT) AS n_greek,
          |    CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS BIGINT) AS n_han,
          |    CAST(length(regexp_replace(text, '[^\p{Arabic}]', '', 'g')) AS BIGINT) AS n_arabic
          |  FROM corpus
          |)
          |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
          |  CASE WHEN n_latin >= greatest(n_cyrillic, n_greek, n_han, n_arabic) THEN 'latin'
          |       WHEN n_cyrillic >= greatest(n_greek, n_han, n_arabic) THEN 'cyrillic'
          |       WHEN n_greek >= greatest(n_han, n_arabic) THEN 'greek'
          |       WHEN n_han >= n_arabic THEN 'han'
          |       ELSE 'arabic' END AS dominant_script
          |FROM p ORDER BY doc_id""".stripMargin,

      "d109_chat_templated_responses" ->
        s"""$chatRichTurnsCte, a AS (
           |  SELECT user_id, conv_idx, md5(lower(trim(turn_text))) AS h
           |  FROM tt WHERE n_turns >= 2 AND role = 'assistant'
           |), f AS (
           |  SELECT *, count(*) OVER (PARTITION BY h) AS freq FROM a
           |), g AS (
           |  SELECT user_id, CAST(conv_idx AS BIGINT) AS conv_idx,
           |    CAST(count(*) AS BIGINT) AS n_asst_turns,
           |    CAST(sum(CASE WHEN freq >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_templated
           |  FROM f GROUP BY 1, 2
           |)
           |SELECT user_id, conv_idx, n_asst_turns, n_templated,
           |  n_templated * 1000 // n_asst_turns AS templated_permille,
           |  n_templated * 2 >= n_asst_turns AS is_templated
           |FROM g ORDER BY user_id, conv_idx""".stripMargin,

      "d110_token_entropy" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 6500000, repeat('spam ', 60)
          |    FROM documents WHERE doc_id % 23 = 0
          |), tk AS (
          |  SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM corpus
          |), m AS (
          |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
          |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
          |  FROM tk WHERE len(toks) >= 1
          |), e AS (
          |  SELECT doc_id, n_toks, n_types,
          |    -1.0 * list_sum(list_transform(list_sort(list_distinct(toks)),
          |      t -> (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / CAST(n_toks AS DOUBLE))
          |        * (ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / CAST(n_toks AS DOUBLE)) / ln(2.0)))) AS eb
          |  FROM m
          |)
          |SELECT doc_id, n_toks, n_types,
          |  round(eb + 0.0, 6) AS entropy_bits,
          |  round(CAST(n_types AS DOUBLE) / n_toks, 6) AS ttr,
          |  round(eb + 0.0, 6) < 1.0 AS is_low_entropy
          |FROM e ORDER BY doc_id""".stripMargin,

      "d111_span_cut_rewrite" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7000000 AS doc_id,
          |    'planted head marker words ' ||
          |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 10, 39), ' ')
          |    || ' tail' || CAST((doc_id + 7000000) % 89 AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 13 = 0
          |), toksrc AS (
          |  SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS tks,
          |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
          |      t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM corpus
          |), wins AS (
          |  SELECT doc_id, i AS pos,
          |    (list_sum(list_transform(range(0, 8),
          |       k -> (hs[i + 1 + k] * ([2003465299, 884122890, 2072267652, 294499921, 2248091, 17161, 131, 1])[k + 1]) % 2147483647))
          |     % 2147483647) * 2147483648
          |    + (list_sum(list_transform(range(0, 8),
          |       k -> (hs[i + 1 + k] * ([671643304, 1901585143, 1017084223, 352275361, 2571353, 18769, 137, 1])[k + 1]) % 2147483647))
          |     % 2147483647) AS wh
          |  FROM (SELECT doc_id, hs, unnest(range(0, len(hs) - 7)) AS i
          |        FROM toksrc WHERE len(hs) >= 8)
          |), rare AS (
          |  SELECT wh FROM wins GROUP BY wh HAVING count(1) BETWEEN 2 AND 32
          |), pw AS (
          |  SELECT w.doc_id, w.pos, w.wh FROM wins w JOIN rare USING (wh)
          |), m AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b, b.pos AS pb,
          |    a.pos - b.pos AS diag
          |  FROM pw a JOIN pw b ON a.wh = b.wh AND a.doc_id < b.doc_id
          |), g AS (
          |  SELECT a, b, diag, pb,
          |    pb - row_number() OVER (PARTITION BY a, b, diag ORDER BY pb) AS grp
          |  FROM m
          |), runs AS (
          |  SELECT a, b, diag, grp, count(1) AS run, min(pb) AS pb0
          |  FROM g GROUP BY 1, 2, 3, 4 HAVING count(1) + 7 >= 16
          |), ivs AS (
          |  SELECT b AS doc_id, list([pb0 + 1, pb0 + run + 7]) AS ivs,
          |    CAST(count(1) AS BIGINT) AS n_spans
          |  FROM runs GROUP BY 1
          |), cut AS (
          |  SELECT i.doc_id, i.n_spans, t.tks,
          |    list_filter(range(1, len(t.tks) + 1),
          |      p -> len(list_filter(i.ivs, v -> p >= v[1] AND p <= v[2])) = 0) AS keep_idx
          |  FROM ivs i JOIN toksrc t USING (doc_id)
          |)
          |SELECT doc_id, CAST(len(tks) AS BIGINT) AS n_toks, n_spans,
          |  CAST(len(tks) - len(keep_idx) AS BIGINT) AS n_removed_toks,
          |  -- a fully-removed doc: array_to_string([]) is NULL in DuckDB
          |  -- but '' in Spark's array_join — align on ''
          |  md5(coalesce(array_to_string(list_transform(keep_idx, p -> tks[p]), ' '), '')) AS new_md5
          |FROM cut ORDER BY doc_id""".stripMargin,

      "d112_pq_encode" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), cents AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM e WHERE vec_id < 8
          |), bd AS (
          |  SELECT v.vec_id, blk.b AS block, c.cent_id,
          |    CAST(list_sum(list_transform(range(1, 17),
          |      i -> (v.q[blk.b * 16 + i] - c.cq[blk.b * 16 + i])
          |         * (v.q[blk.b * 16 + i] - c.cq[blk.b * 16 + i]))) AS BIGINT) AS dist
          |  FROM e v CROSS JOIN cents c
          |  CROSS JOIN (SELECT unnest(range(0, 4)) AS b) blk
          |), best AS (
          |  SELECT vec_id, block, cent_id, dist FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY vec_id, block ORDER BY dist, cent_id) AS rn
          |    FROM bd) WHERE rn = 1
          |)
          |SELECT vec_id,
          |  max(CASE WHEN block = 0 THEN cent_id END) AS c1,
          |  max(CASE WHEN block = 1 THEN cent_id END) AS c2,
          |  max(CASE WHEN block = 2 THEN cent_id END) AS c3,
          |  max(CASE WHEN block = 3 THEN cent_id END) AS c4,
          |  CAST(sum(dist) AS BIGINT) AS sqerr
          |FROM best GROUP BY 1 ORDER BY vec_id""".stripMargin,

      "d113_pq_adc_recall" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), cents AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM e WHERE vec_id < 8
          |), bd AS (
          |  SELECT v.vec_id, blk.b AS block, c.cent_id,
          |    CAST(list_sum(list_transform(range(1, 17),
          |      i -> (v.q[blk.b * 16 + i] - c.cq[blk.b * 16 + i])
          |         * (v.q[blk.b * 16 + i] - c.cq[blk.b * 16 + i]))) AS BIGINT) AS dist
          |  FROM e v CROSS JOIN cents c
          |  CROSS JOIN (SELECT unnest(range(0, 4)) AS b) blk
          |), best AS (
          |  SELECT vec_id, block, cent_id, dist FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY vec_id, block ORDER BY dist, cent_id) AS rn
          |    FROM bd) WHERE rn = 1
          |), lut AS (
          |  SELECT vec_id AS query_id, block, cent_id AS code, dist
          |  FROM bd WHERE vec_id >= 100 AND vec_id < 110
          |), adc AS (
          |  SELECT l.query_id, bst.vec_id, CAST(sum(l.dist) AS BIGINT) AS adc_dist
          |  FROM best bst JOIN lut l ON l.block = bst.block AND l.code = bst.cent_id
          |  WHERE bst.vec_id <> l.query_id
          |  GROUP BY 1, 2
          |), adctop AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rk FROM adc)
          |  WHERE rk <= 10
          |), exact AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT qv.vec_id AS query_id, v.vec_id,
          |      row_number() OVER (PARTITION BY qv.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65),
          |          i -> (v.q[i] - qv.q[i]) * (v.q[i] - qv.q[i]))),
          |        v.vec_id) AS rk
          |    FROM e v CROSS JOIN e qv
          |    WHERE qv.vec_id >= 100 AND qv.vec_id < 110 AND v.vec_id <> qv.vec_id)
          |  WHERE rk <= 10
          |), hits AS (
          |  SELECT a.query_id, CAST(count(1) AS BIGINT) AS n_hits
          |  FROM adctop a JOIN exact x
          |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
          |  GROUP BY 1
          |)
          |SELECT q.vec_id AS query_id,
          |  coalesce(h.n_hits, 0) AS n_hits,
          |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
          |FROM (SELECT vec_id FROM e WHERE vec_id >= 100 AND vec_id < 110) q
          |LEFT JOIN hits h ON h.query_id = q.vec_id
          |ORDER BY query_id""".stripMargin,

      "d114_ivfpq_recall" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), coarse AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM e WHERE vec_id < 16
          |), pqcb AS (
          |  SELECT j AS cent_id,
          |    list_transform(range(1, 65), i -> (j * 40503 + i * 2654435761) % 401 - 200) AS cq
          |  FROM (SELECT unnest(range(0, 8)) AS j)
          |), assigned AS (
          |  SELECT vec_id, cent_id AS list_id, r FROM (
          |    SELECT v.vec_id, c.cent_id,
          |      list_transform(range(1, 65), i -> v.q[i] - c.cq[i]) AS r,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM e v CROSS JOIN coarse c
          |  ) WHERE rn = 1
          |), bd AS (
          |  SELECT a.vec_id, a.list_id, blk.b AS block, p.cent_id,
          |    CAST(list_sum(list_transform(range(1, 17),
          |      i -> (a.r[blk.b * 16 + i] - p.cq[blk.b * 16 + i])
          |         * (a.r[blk.b * 16 + i] - p.cq[blk.b * 16 + i]))) AS BIGINT) AS dist
          |  FROM assigned a CROSS JOIN pqcb p
          |  CROSS JOIN (SELECT unnest(range(0, 4)) AS b) blk
          |), codes AS (
          |  SELECT vec_id, list_id, block, cent_id AS code FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY vec_id, block ORDER BY dist, cent_id) AS rn
          |    FROM bd) WHERE rn = 1
          |), probes AS (
          |  SELECT query_id, cent_id AS list_id, qr FROM (
          |    SELECT v.vec_id AS query_id, c.cent_id,
          |      list_transform(range(1, 65), i -> v.q[i] - c.cq[i]) AS qr,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM e v CROSS JOIN coarse c
          |    WHERE v.vec_id >= 100 AND v.vec_id < 110
          |  ) WHERE rn <= 4
          |), lut AS (
          |  SELECT pr.query_id, pr.list_id, p.cent_id AS code, blk.b AS block,
          |    CAST(list_sum(list_transform(range(1, 17),
          |      i -> (pr.qr[blk.b * 16 + i] - p.cq[blk.b * 16 + i])
          |         * (pr.qr[blk.b * 16 + i] - p.cq[blk.b * 16 + i]))) AS BIGINT) AS dist
          |  FROM probes pr CROSS JOIN pqcb p
          |  CROSS JOIN (SELECT unnest(range(0, 4)) AS b) blk
          |), adc AS (
          |  SELECT l.query_id, cd.vec_id, CAST(sum(l.dist) AS BIGINT) AS adc_dist
          |  FROM codes cd JOIN lut l
          |    ON l.list_id = cd.list_id AND l.block = cd.block AND l.code = cd.code
          |  WHERE cd.vec_id <> l.query_id
          |  GROUP BY 1, 2
          |), adctop AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rk FROM adc)
          |  WHERE rk <= 10
          |), exact AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT qv.vec_id AS query_id, v.vec_id,
          |      row_number() OVER (PARTITION BY qv.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65),
          |          i -> (v.q[i] - qv.q[i]) * (v.q[i] - qv.q[i]))),
          |        v.vec_id) AS rk
          |    FROM e v CROSS JOIN e qv
          |    WHERE qv.vec_id >= 100 AND qv.vec_id < 110 AND v.vec_id <> qv.vec_id)
          |  WHERE rk <= 10
          |), hits AS (
          |  SELECT a.query_id, CAST(count(1) AS BIGINT) AS n_hits
          |  FROM adctop a JOIN exact x
          |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
          |  GROUP BY 1
          |)
          |SELECT q.vec_id AS query_id,
          |  coalesce(h.n_hits, 0) AS n_hits,
          |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
          |FROM (SELECT vec_id FROM e WHERE vec_id >= 100 AND vec_id < 110) q
          |LEFT JOIN hits h ON h.query_id = q.vec_id
          |ORDER BY query_id""".stripMargin,

      "d115_boilerplate_lines" ->
        """WITH corpus AS (
          |  SELECT doc_id, source, text
          |    || CASE WHEN doc_id % 3 = 0
          |         THEN chr(10) || 'accept all cookies to continue' ELSE '' END
          |    || CASE WHEN doc_id % 4 = 1
          |         THEN chr(10) || 'subscribe to the ' || source || ' newsletter' ELSE '' END
          |    || CASE WHEN doc_id % 5 = 2
          |         THEN chr(10) || 'all rights reserved' ELSE '' END
          |    || chr(10) || 'ref ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents
          |), l AS (
          |  SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line
          |  FROM corpus
          |), bp AS (
          |  SELECT source, md5(line) AS lh FROM l
          |  GROUP BY source, md5(line) HAVING count(DISTINCT doc_id) >= 5
          |), bps AS (
          |  SELECT source, list_sort(list(lh)) AS bph FROM bp GROUP BY source
          |), k AS (
          |  SELECT c.doc_id, c.source,
          |    string_split(c.text, chr(10)) AS lines,
          |    list_filter(string_split(c.text, chr(10)),
          |      x -> NOT list_contains(coalesce(b.bph, CAST([] AS VARCHAR[])), md5(x))) AS kept
          |  FROM corpus c LEFT JOIN bps b ON c.source = b.source
          |)
          |SELECT doc_id, source,
          |  CAST(len(lines) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept,
          |  CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped,
          |  CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS kept_chars,
          |  md5(array_to_string(kept, chr(10))) AS kept_md5
          |FROM k ORDER BY doc_id""".stripMargin,

      "d116_quality_auc" ->
        """WITH corpus AS (
          |  SELECT doc_id, text, 1 AS y FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7000000, repeat('spam ', CAST(20 + doc_id % 13 AS INT)), 0
          |  FROM documents WHERE doc_id % 7 = 0
          |), base AS (
          |  SELECT y, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM corpus
          |), q AS (
          |  SELECT y,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM base
          |), g AS (
          |  SELECT round(quality, 6) AS sc,
          |    CAST(sum(y) AS DOUBLE) AS np, CAST(sum(1 - y) AS DOUBLE) AS nn
          |  FROM q GROUP BY 1
          |), c AS (
          |  SELECT sc, np, nn,
          |    coalesce(sum(nn) OVER (ORDER BY sc
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
          |  FROM g
          |)
          |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
          |  round(sum(np * (cum_nn + nn / 2)) / (sum(np) * sum(nn)), 6) AS auc
          |FROM c""".stripMargin,

      "d117_bradley_terry" ->
        """WITH base AS (
          |  SELECT doc_id, source, lang, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM documents
          |), q AS (
          |  SELECT doc_id, source, lang,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM base
          |), ch AS (
          |  SELECT source, lang, quality FROM (
          |    SELECT source, lang, quality, row_number() OVER (
          |      PARTITION BY source, lang ORDER BY quality DESC, doc_id ASC) AS rn
          |    FROM q) WHERE rn = 1
          |), m AS (
          |  SELECT CASE WHEN a.quality >= b.quality THEN a.lang ELSE b.lang END AS winner,
          |         CASE WHEN a.quality >= b.quality THEN b.lang ELSE a.lang END AS loser
          |  FROM ch a JOIN ch b ON a.source = b.source AND a.lang < b.lang
          |), dir AS (
          |  SELECT winner AS i, loser AS j, 1.0 AS wi FROM m
          |  UNION ALL SELECT loser, winner, 0.0 FROM m
          |), edges AS (
          |  SELECT i, j, sum(wi) AS wij, CAST(count(*) AS DOUBLE) AS nij
          |  FROM dir GROUP BY i, j
          |), r1 AS (
          |  SELECT i AS item, sum(wij) / sum(nij / 2.0) AS pi_raw FROM edges GROUP BY i
          |), t1 AS (SELECT sum(pi_raw) AS t, CAST(count(*) AS DOUBLE) AS k FROM r1),
          |p1 AS (SELECT item, pi_raw * k / t AS pi FROM r1, t1),
          |r2 AS (
          |  SELECT e.i AS item, sum(e.wij) / sum(e.nij / (a.pi + b.pi)) AS pi_raw
          |  FROM edges e JOIN p1 a ON e.i = a.item JOIN p1 b ON e.j = b.item
          |  GROUP BY e.i
          |), t2 AS (SELECT sum(pi_raw) AS t, CAST(count(*) AS DOUBLE) AS k FROM r2),
          |p2 AS (SELECT item, pi_raw * k / t AS pi FROM r2, t2),
          |tot AS (
          |  SELECT i AS item, CAST(sum(wij) AS BIGINT) AS wins,
          |    CAST(sum(nij) AS BIGINT) AS games
          |  FROM edges GROUP BY i
          |)
          |SELECT tot.item AS lang, tot.wins, tot.games, round(p2.pi, 6) AS strength
          |FROM tot JOIN p2 ON tot.item = p2.item
          |ORDER BY lang""".stripMargin,

      "d118_encoding_artifacts" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7500000, text || ' cafÃ© dÃ©jÃ  vu â€™quoteâ€œ naÃ¯ve Â· end'
          |  FROM documents WHERE doc_id % 11 = 0
          |  UNION ALL
          |  SELECT doc_id + 7600000, text || ' bad�bytes�here'
          |  FROM documents WHERE doc_id % 13 = 1
          |), c AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, 'Ã©|Ã¨|Ã¼|Ã±|Ã¯|â€™|â€œ|Â·')) AS BIGINT) AS n_double_enc,
          |    CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement
          |  FROM corpus
          |)
          |SELECT doc_id, n_double_enc, n_replacement,
          |  n_double_enc + n_replacement AS n_artifacts,
          |  n_double_enc + n_replacement >= 2 AS is_mojibake
          |FROM c WHERE n_double_enc + n_replacement > 0
          |ORDER BY doc_id""".stripMargin,

      "d119_curriculum_pacing" ->
        """WITH r AS (
          |  SELECT doc_id, source,
          |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS difficulty
          |  FROM documents
          |), w AS (
          |  SELECT doc_id, source, difficulty,
          |    CAST(row_number() OVER (
          |      PARTITION BY source ORDER BY difficulty, doc_id) AS BIGINT) AS rnk,
          |    count(*) OVER (PARTITION BY source) AS n
          |  FROM r
          |)
          |SELECT doc_id, source, difficulty, rnk,
          |  CAST(list_min(list_filter(range(1, 5),
          |    e -> rnk <= ceil(n * sqrt(e / 4.0)))) AS BIGINT) AS first_epoch
          |FROM w ORDER BY doc_id""".stripMargin,

      "d122_label_propagation" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id, lang,
          |    toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), pairs AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b
          |    ON a.lang = b.lang AND a.first_tok = b.first_tok
          |    AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.3
          |), edges AS (
          |  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
          |), nodes AS (SELECT DISTINCT src AS node FROM edges
          |), sd AS (
          |  SELECT doc_id AS node,
          |    CASE WHEN doc_id % 17 = 0 THEN 1 ELSE -1 END AS seed_lab
          |  FROM corpus WHERE doc_id % 17 IN (0, 5)
          |), s0 AS (
          |  SELECT n.node, coalesce(sd.seed_lab, 0) AS lab,
          |    sd.seed_lab IS NOT NULL AS cl
          |  FROM nodes n LEFT JOIN sd ON n.node = sd.node
          |), m1 AS (
          |  SELECT e.src AS node, sum(s.lab) AS vote
          |  FROM edges e JOIN s0 s ON e.dst = s.node GROUP BY e.src
          |), s1 AS (
          |  SELECT s.node,
          |    CASE WHEN s.cl THEN s.lab
          |         WHEN coalesce(m.vote, 0) > 0 THEN 1
          |         WHEN coalesce(m.vote, 0) < 0 THEN -1
          |         ELSE s.lab END AS lab, s.cl
          |  FROM s0 s LEFT JOIN m1 m ON s.node = m.node
          |), m2 AS (
          |  SELECT e.src AS node, sum(s.lab) AS vote
          |  FROM edges e JOIN s1 s ON e.dst = s.node GROUP BY e.src
          |), s2 AS (
          |  SELECT s.node,
          |    CASE WHEN s.cl THEN s.lab
          |         WHEN coalesce(m.vote, 0) > 0 THEN 1
          |         WHEN coalesce(m.vote, 0) < 0 THEN -1
          |         ELSE s.lab END AS lab, s.cl
          |  FROM s1 s LEFT JOIN m2 m ON s.node = m.node
          |), m3 AS (
          |  SELECT e.src AS node, sum(s.lab) AS vote
          |  FROM edges e JOIN s2 s ON e.dst = s.node GROUP BY e.src
          |), s3 AS (
          |  SELECT s.node,
          |    CASE WHEN s.cl THEN s.lab
          |         WHEN coalesce(m.vote, 0) > 0 THEN 1
          |         WHEN coalesce(m.vote, 0) < 0 THEN -1
          |         ELSE s.lab END AS lab, s.cl
          |  FROM s2 s LEFT JOIN m3 m ON s.node = m.node
          |)
          |SELECT node AS doc_id, CAST(lab AS BIGINT) AS lab, cl AS is_seed
          |FROM s3 ORDER BY doc_id""".stripMargin),

      "d123_winnowing_profile" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7000000 AS doc_id,
          |    'planted head marker words ' ||
          |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 10, 39), ' ')
          |    || ' tail' || CAST((doc_id + 7000000) % 89 AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 13 = 0
          |), tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM corpus
          |), g AS (
          |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
          |    list_transform(range(1, len(toks) - 2), i ->
          |      ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' ||
          |        toks[i+2] || ' ' || toks[i+3]), 1, 15))::BIGINT) AS grams
          |  FROM tk WHERE len(toks) >= 8
          |), sel AS (
          |  SELECT doc_id, n_toks,
          |    list_distinct(list_transform(range(1, len(grams) - 3), p ->
          |      p - 1 + list_max(list_transform(range(1, 6), q ->
          |        CASE WHEN grams[p + q - 1] = list_min(grams[p:p+4])
          |             THEN q ELSE 0 END)))) AS fps
          |  FROM g
          |)
          |SELECT doc_id, n_toks, n_toks - 3 AS n_grams, n_toks - 7 AS n_windows,
          |  CAST(len(fps) AS BIGINT) AS n_fp,
          |  round(CAST(len(fps) AS DOUBLE) / (n_toks - 7), 6) AS density
          |FROM sel ORDER BY doc_id""".stripMargin,

      "d124_winnowing_pairs" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7000000 AS doc_id,
          |    'planted head marker words ' ||
          |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 10, 39), ' ')
          |    || ' tail' || CAST((doc_id + 7000000) % 89 AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 13 = 0
          |), tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM corpus
          |), g AS (
          |  SELECT doc_id,
          |    list_transform(range(1, len(toks) - 2), i ->
          |      ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' ||
          |        toks[i+2] || ' ' || toks[i+3]), 1, 15))::BIGINT) AS grams
          |  FROM tk WHERE len(toks) >= 8
          |), sel AS (
          |  SELECT doc_id, grams,
          |    list_distinct(list_transform(range(1, len(grams) - 3), p ->
          |      p - 1 + list_max(list_transform(range(1, 6), q ->
          |        CASE WHEN grams[p + q - 1] = list_min(grams[p:p+4])
          |             THEN q ELSE 0 END)))) AS fps
          |  FROM g
          |), hd AS (
          |  SELECT DISTINCT doc_id, grams[i] AS h
          |  FROM (SELECT doc_id, grams, unnest(fps) AS i FROM sel)
          |), ok AS (
          |  SELECT h FROM hd GROUP BY h HAVING count(1) BETWEEN 2 AND 8
          |), sl AS (
          |  SELECT doc_id, h FROM hd JOIN ok USING (h)
          |)
          |SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(1) AS BIGINT) AS n_shared
          |FROM sl a JOIN sl b ON a.h = b.h AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(1) >= 2
          |ORDER BY a, b""".stripMargin,

      "d125_kmv_snapshot_overlap" ->
        """WITH ah AS (
          |  SELECT DISTINCT ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
          |  FROM documents WHERE doc_id % 4 != 0
          |), bh AS (
          |  SELECT DISTINCT ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
          |  FROM documents WHERE doc_id % 2 = 0
          |), sa AS (SELECT h FROM ah ORDER BY h LIMIT 256
          |), sb AS (SELECT h FROM bh ORDER BY h LIMIT 256
          |), th AS (
          |  SELECT least((SELECT max(h) FROM sa), (SELECT max(h) FROM sb)) AS theta
          |), sh AS (
          |  SELECT count(*) AS n_shared_below
          |  FROM sa JOIN sb USING (h), th WHERE h < theta
          |)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ah) AS n_a,
          |  (SELECT CAST(count(*) AS BIGINT) FROM bh) AS n_b,
          |  (SELECT theta FROM th) AS theta,
          |  CAST(n_shared_below AS BIGINT) AS n_shared_below,
          |  round(CAST(n_shared_below AS DOUBLE) * 1152921504606846976
          |    / (SELECT theta FROM th), 3) AS est_intersection
          |FROM sh""".stripMargin,

      "d126_data_constrained_plan" ->
        """WITH corpus AS (
          |  SELECT doc_id, text, source FROM documents
          |  UNION ALL
          |  SELECT doc_id + 8200000, text, source FROM documents
          |  WHERE doc_id % 9 = 0
          |), uniq AS (
          |  SELECT source, ('0x' || substring(md5(text), 1, 15))::BIGINT AS h,
          |    max(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS n
          |  FROM corpus GROUP BY 1, 2
          |), per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_unique_docs,
          |    CAST(sum(n) AS BIGINT) AS u_tokens
          |  FROM uniq GROUP BY 1
          |), tot AS (
          |  SELECT CAST(sum(u_tokens) AS BIGINT) AS total_u,
          |    count(*) AS n_sources FROM per
          |), calc AS (
          |  SELECT source, n_unique_docs, u_tokens,
          |    round(4.0 * total_u / n_sources, 3) AS budget_tokens
          |  FROM per, tot
          |), calc2 AS (
          |  SELECT *, budget_tokens / u_tokens AS epochs,
          |    budget_tokens / u_tokens - 1 AS r
          |  FROM calc
          |), eff AS (
          |  SELECT *, CASE WHEN r <= 0 THEN budget_tokens
          |    ELSE u_tokens * (1.0 + 15.4 * (1.0 - exp(r * (-1.0 / 15.4))))
          |    END AS eff_tokens
          |  FROM calc2
          |)
          |SELECT source, n_unique_docs, u_tokens, budget_tokens,
          |  round(epochs, 4) AS epochs, round(eff_tokens, 3) AS eff_tokens,
          |  round(eff_tokens / budget_tokens, 6) AS utilization
          |FROM eff ORDER BY source""".stripMargin,

      "d127_threshold_sweep" ->
        """WITH base AS (
          |  SELECT doc_id, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM documents
          |), q AS (
          |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM base
          |), bk AS (
          |  SELECT CAST(least(greatest(floor(quality * 20), 0), 19) AS INT) AS bucket,
          |    (n_tokens >= 40) AS lab
          |  FROM q
          |), counts AS (
          |  SELECT bucket,
          |    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS BIGINT) AS neg
          |  FROM bk GROUP BY 1
          |), grid AS (
          |  SELECT CAST(range AS INT) AS bucket, COALESCE(pos, 0) AS pos,
          |    COALESCE(neg, 0) AS neg
          |  FROM range(0, 20) LEFT JOIN counts ON range = bucket
          |), cum AS (
          |  SELECT bucket,
          |    CAST(sum(pos) OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW
          |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
          |    CAST(sum(neg) OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW
          |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS fp,
          |    CAST((SELECT sum(pos) FROM grid) AS BIGINT) AS tot_pos,
          |    CAST((SELECT sum(neg) FROM grid) AS BIGINT) AS tot_neg
          |  FROM grid
          |)
          |SELECT bucket, round(CAST(bucket AS DOUBLE) / 20, 6) AS threshold,
          |  tp, fp, tot_pos - tp AS fn, tot_neg - fp AS tn,
          |  CASE WHEN tp + fp > 0
          |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
          |  CASE WHEN tot_pos > 0
          |    THEN round(CAST(tp AS DOUBLE) / tot_pos, 6) END AS recall,
          |  CASE WHEN tp * 2 + fp + (tot_pos - tp) > 0
          |    THEN round(CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + (tot_pos - tp)), 6)
          |    END AS f1
          |FROM cum ORDER BY bucket""".stripMargin,

      "d128_soft_dedup_weights" ->
        """WITH corpus AS (
          |  SELECT doc_id, text, source FROM documents
          |  UNION ALL SELECT doc_id + 8300000, text, source FROM documents
          |    WHERE doc_id % 9 = 0
          |  UNION ALL SELECT doc_id + 8400000, text, source FROM documents
          |    WHERE doc_id % 27 = 0
          |), h AS (
          |  SELECT doc_id, source,
          |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS h,
          |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_toks
          |  FROM corpus
          |), c AS (
          |  SELECT h, CAST(count(*) AS BIGINT) AS cluster_size FROM h GROUP BY 1
          |), j AS (
          |  SELECT doc_id, source, n_toks,
          |    1000000 // cluster_size AS weight_ppm
          |  FROM h JOIN c USING (h)
          |), agg AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(n_toks) AS BIGINT) AS gross_tokens,
          |    CAST(sum(n_toks * weight_ppm) AS BIGINT) AS eff_tokens_e6
          |  FROM j GROUP BY 1
          |), r AS (
          |  SELECT *, round(CAST(eff_tokens_e6 AS DOUBLE) / 1000000.0, 3) AS eff_tokens
          |  FROM agg
          |)
          |SELECT source, n_docs, gross_tokens, eff_tokens_e6, eff_tokens,
          |  round(CAST(gross_tokens AS DOUBLE) / eff_tokens, 6) AS dup_overhead
          |FROM r ORDER BY source""".stripMargin,

      "d129_bitext_candidates" ->
        """WITH plants AS (
          |  SELECT doc_id FROM documents WHERE doc_id % 11 = 0
          |), en AS (
          |  SELECT doc_id + 8500000 AS id, 'en' AS lang,
          |    'station report ' || CAST(doc_id * 7919 % 90000 + 10000 AS VARCHAR)
          |    || ' ' || CAST(doc_id * 104729 % 900000 + 100000 AS VARCHAR)
          |    || ' ' || CAST(doc_id * 29 % 9000000 + 1000000 AS VARCHAR)
          |    || ' 555000' AS text
          |  FROM plants
          |), fr AS (
          |  SELECT doc_id + 8600000 AS id, 'fr' AS lang,
          |    'rapport de station ' || CAST(doc_id * 7919 % 90000 + 10000 AS VARCHAR)
          |    || ' ' || CAST(doc_id * 104729 % 900000 + 100000 AS VARCHAR)
          |    || ' ' || CAST(doc_id * 29 % 9000000 + 1000000 AS VARCHAR)
          |    || ' 555000' AS text
          |  FROM plants
          |), corpus AS (
          |  SELECT doc_id AS id, lang, text FROM documents
          |  UNION ALL SELECT id, lang, text FROM en
          |  UNION ALL SELECT id, lang, text FROM fr
          |), nums AS (
          |  SELECT id, lang,
          |    unnest(list_distinct(regexp_extract_all(text, '[0-9]{3,}'))) AS num
          |  FROM corpus
          |), rare AS (
          |  SELECT num FROM nums GROUP BY num HAVING count(*) BETWEEN 2 AND 8
          |), slim AS (
          |  SELECT id, lang, num FROM nums JOIN rare USING (num)
          |)
          |SELECT x.id AS a, x.lang AS a_lang, y.id AS b, y.lang AS b_lang,
          |  CAST(count(*) AS BIGINT) AS n_shared
          |FROM slim x JOIN slim y ON x.num = y.num AND x.lang < y.lang
          |GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
          |ORDER BY a, b""".stripMargin,

      "d130_kneser_ney_bigrams" ->
        """WITH tk AS (
          |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), pr AS (
          |  SELECT toks[i] AS a, toks[i+1] AS b
          |  FROM tk, unnest(range(1, len(toks))) AS r(i)
          |  WHERE toks[i] != '' AND toks[i+1] != ''
          |), bi AS (
          |  SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pr GROUP BY 1, 2
          |), fa AS (
          |  SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
          |    CAST(count(*) AS BIGINT) AS n1p_a
          |  FROM bi GROUP BY 1
          |), cb AS (
          |  SELECT b, CAST(count(*) AS BIGINT) AS n1p_b FROM bi GROUP BY 1
          |), tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n1p_total FROM bi
          |), sc AS (
          |  SELECT a, b, c_ab, c_a, n1p_a, n1p_b, n1p_total,
          |    CAST(n1p_b AS DOUBLE) / n1p_total AS p_cont
          |  FROM bi JOIN fa USING (a) JOIN cb USING (b), tot
          |)
          |SELECT a, b, c_ab, c_a, n1p_a, n1p_b, n1p_total,
          |  round(p_cont, 6) AS p_cont,
          |  round((greatest(c_ab - 0.75, 0.0) + 0.75 * n1p_a * p_cont) / c_a, 6)
          |    AS p_kn
          |FROM sc
          |ORDER BY c_ab DESC, a, b LIMIT 40""".stripMargin,

      "d131_perplexity_tertiles" ->
        """WITH tf AS (
          |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id,
          |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          |    FROM documents)
          |  WHERE term != '' GROUP BY 1, 2
          |), counts AS (
          |  SELECT term, CAST(length(bin(CAST(sum(tf) AS BIGINT))) AS BIGINT) AS bits
          |  FROM tf GROUP BY 1
          |), per_doc AS (
          |  SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
          |    CAST(sum(tf * bits) AS BIGINT) AS sum_bits
          |  FROM tf JOIN counts USING (term) GROUP BY 1
          |), src AS (
          |  SELECT p.doc_id, d.source, p.n_tok,
          |    p.sum_bits * 1000 // p.n_tok AS mean_bits_permille
          |  FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
          |), tiled AS (
          |  SELECT source, n_tok, mean_bits_permille,
          |    ntile(3) OVER (PARTITION BY source
          |      ORDER BY mean_bits_permille, doc_id) AS tertile
          |  FROM src
          |)
          |SELECT source, tertile, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_tok) AS BIGINT) AS tokens,
          |  CAST(min(mean_bits_permille) AS BIGINT) AS min_permille,
          |  CAST(max(mean_bits_permille) AS BIGINT) AS max_permille,
          |  CASE tertile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          |    ELSE 'tail' END AS bucket
          |FROM tiled GROUP BY 1, 2 ORDER BY source, tertile""".stripMargin,

      "d132_l_diversity" ->
        """SELECT lang, n_chars // 100 AS len_bucket,
          |  CAST(count(*) AS BIGINT) AS k_count,
          |  CAST(count(DISTINCT source) AS BIGINT) AS l_count,
          |  count(DISTINCT source) >= 3 AS diverse
          |FROM documents
          |GROUP BY 1, 2 ORDER BY lang, len_bucket""".stripMargin,

      // verbatim 8-gram contamination: DuckDB replays the same md5-60
      // gram hashes, so the hit counts are integer-exact
      "d133_exact_ngram_decontam" -> (planted +
        """
          |, g AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 6),
          |      i -> ('0x' || substring(md5(array_to_string(toks[i : i + 7], ' ')), 1, 15))::BIGINT)) AS ghs
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 8
          |), tg AS (
          |  SELECT doc_id, gh FROM g, unnest(ghs) AS u(gh)
          |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)
          |), eg AS (
          |  SELECT DISTINCT gh FROM g, unnest(ghs) AS u(gh)
          |  WHERE doc_id % 50 = 0 AND doc_id < 1000000
          |)
          |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_grams,
          |  CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          |FROM tg t LEFT JOIN eg e ON t.gh = e.gh
          |GROUP BY doc_id
          |HAVING sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) > 0
          |ORDER BY doc_id""".stripMargin),

      // Matryoshka recall: the same exact-int cosine replay as d34,
      // once over 64 dims and once over the 16-dim prefix
      "d134_matryoshka_recall" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, q,
          |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), tn AS (
          |  SELECT vec_id, q[1 : 16] AS q,
          |    CAST(list_sum(list_transform(range(1, 17), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), bf AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT qv.vec_id AS query_id, v.vec_id,
          |      row_number() OVER (PARTITION BY qv.vec_id ORDER BY
          |        round(CAST(list_sum(list_transform(range(1, 65), i -> qv.q[i] * v.q[i])) AS DOUBLE)
          |          / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))), 6) DESC,
          |        v.vec_id) AS rank
          |    FROM n qv JOIN n v ON v.vec_id <> qv.vec_id
          |    WHERE qv.vec_id >= 100 AND qv.vec_id < 110
          |  ) WHERE rank <= 5
          |), tf AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT qv.vec_id AS query_id, v.vec_id,
          |      row_number() OVER (PARTITION BY qv.vec_id ORDER BY
          |        round(CAST(list_sum(list_transform(range(1, 17), i -> qv.q[i] * v.q[i])) AS DOUBLE)
          |          / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))), 6) DESC,
          |        v.vec_id) AS rank
          |    FROM tn qv JOIN tn v ON v.vec_id <> qv.vec_id
          |    WHERE qv.vec_id >= 100 AND qv.vec_id < 110
          |  ) WHERE rank <= 5
          |), hits AS (
          |  SELECT query_id, count(1) AS n_hits
          |  FROM tf JOIN bf USING (query_id, vec_id) GROUP BY query_id
          |)
          |SELECT q.vec_id AS query_id,
          |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
          |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
          |FROM e q LEFT JOIN hits h ON h.query_id = q.vec_id
          |WHERE q.vec_id >= 100 AND q.vec_id < 110
          |ORDER BY query_id""".stripMargin,

      "d135_source_vocab_overlap" ->
        """WITH st AS (
          |  SELECT DISTINCT source, tok
          |  FROM (SELECT source,
          |          unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
          |        FROM documents)
          |), sz AS (
          |  SELECT source, count(1) AS n FROM st GROUP BY source
          |), ov AS (
          |  SELECT a.source AS src_a, b.source AS src_b, count(1) AS n_shared
          |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
          |  GROUP BY 1, 2
          |)
          |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
          |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
          |  CAST(n_shared * 1000000 // (x.n + y.n - n_shared) AS BIGINT) AS jaccard_ppm
          |FROM ov JOIN sz x ON x.source = ov.src_a JOIN sz y ON y.source = ov.src_b
          |ORDER BY src_a, src_b""".stripMargin,

      "d136_ks_length_drift" ->
        """WITH counts AS (
          |  SELECT source, n_chars, count(1) AS c FROM documents GROUP BY 1, 2
          |), grid AS (
          |  SELECT v.n_chars, s.source
          |  FROM (SELECT DISTINCT n_chars FROM counts) v
          |  CROSS JOIN (SELECT DISTINCT source FROM counts) s
          |), cdf AS (
          |  SELECT g.source, g.n_chars,
          |    CAST(sum(COALESCE(c.c, 0)) OVER (PARTITION BY g.source ORDER BY g.n_chars) * 1000000
          |      // sum(COALESCE(c.c, 0)) OVER (PARTITION BY g.source) AS BIGINT) AS cdf_ppm
          |  FROM grid g LEFT JOIN counts c
          |    ON c.source = g.source AND c.n_chars = g.n_chars
          |)
          |SELECT a.source AS src_a, b.source AS src_b,
          |  CAST(max(abs(a.cdf_ppm - b.cdf_ppm)) AS BIGINT) AS ks_ppm,
          |  max(abs(a.cdf_ppm - b.cdf_ppm)) >= 100000 AS drifted
          |FROM cdf a JOIN cdf b ON a.n_chars = b.n_chars AND a.source < b.source
          |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

      // planted code docs rebuilt from the same id-derived template;
      // char-class counts replay exactly (regex classes are ASCII)
      "d137_code_detection" ->
        """WITH code AS (
          |  SELECT 9100000 + i AS doc_id,
          |    'def fn(x) { return x * ' || CAST(i AS VARCHAR) ||
          |    '; } // auto var y = (x + ' || CAST(i AS VARCHAR) ||
          |    '); if (y > 0) { y = y - 1; }' AS text
          |  FROM range(40) t(i)
          |), allc AS (
          |  SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM code
          |), scored AS (
          |  SELECT doc_id,
          |    CAST(length(text) AS BIGINT) AS n_chars,
          |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_symbols,
          |    CAST(length(text) - length(regexp_replace(text, '[{}]', '', 'g')) AS BIGINT) AS n_braces,
          |    CAST(length(text) - length(regexp_replace(text, ';', '', 'g')) AS BIGINT) AS n_semis
          |  FROM allc
          |)
          |SELECT doc_id, n_chars, n_symbols, n_braces, n_semis,
          |  CAST(n_symbols * 1000 // greatest(n_chars, 1) AS BIGINT) AS symbol_permille
          |FROM scored
          |WHERE n_symbols * 1000 // greatest(n_chars, 1) >= 60 AND n_braces >= 2
          |ORDER BY doc_id""".stripMargin,

      "d138_t_closeness" ->
        """WITH cells AS (
          |  SELECT lang, n_chars // 100 AS len_bucket, source, count(1) AS c
          |  FROM documents GROUP BY 1, 2, 3
          |), groups AS (
          |  SELECT lang, len_bucket, sum(c) AS g_total FROM cells GROUP BY 1, 2
          |), global AS (
          |  SELECT source, sum(c) AS s_total FROM cells GROUP BY 1
          |), grand AS (
          |  SELECT sum(s_total) AS n_total FROM global
          |)
          |SELECT g.lang, g.len_bucket, CAST(g.g_total AS BIGINT) AS g_total,
          |  CAST(sum(abs(COALESCE(c.c, 0) * 1000000 // g.g_total
          |    - s.s_total * 1000000 // gr.n_total)) // 2 AS BIGINT) AS tv_ppm,
          |  sum(abs(COALESCE(c.c, 0) * 1000000 // g.g_total
          |    - s.s_total * 1000000 // gr.n_total)) // 2 <= 500000 AS t_close
          |FROM groups g CROSS JOIN global s CROSS JOIN grand gr
          |LEFT JOIN cells c ON c.lang = g.lang AND c.len_bucket = g.len_bucket
          |  AND c.source = s.source
          |GROUP BY 1, 2, 3 ORDER BY g.lang, g.len_bucket""".stripMargin,

      "d139_count_min_sketch" ->
        """WITH toks AS (
          |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          |  FROM documents
          |), counts AS (
          |  SELECT tok, count(1) AS c_true FROM toks WHERE tok <> '' GROUP BY tok
          |), probes AS (
          |  SELECT tok, c_true, r,
          |    ('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || ':' || tok), 1, 15))::BIGINT % 256 AS b
          |  FROM counts, unnest(range(0, 4)) AS t(r)
          |), sketch AS (
          |  SELECT r, b, sum(c_true) AS cell FROM probes GROUP BY 1, 2
          |), est AS (
          |  SELECT p.tok, p.c_true, min(s.cell) AS c_est
          |  FROM probes p JOIN sketch s ON s.r = p.r AND s.b = p.b
          |  GROUP BY 1, 2
          |)
          |SELECT tok, CAST(c_true AS BIGINT) AS c_true,
          |  CAST(c_est AS BIGINT) AS c_est,
          |  CAST(c_est - c_true AS BIGINT) AS overestimate
          |FROM est ORDER BY c_true DESC, tok LIMIT 20""".stripMargin,

      "d140_shard_skew_audit" ->
        """WITH sh AS (
          |  SELECT ('0x' || substring(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 32 AS shard,
          |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_toks
          |  FROM documents
          |), agg AS (
          |  SELECT shard, count(1) AS n_docs, sum(n_toks) AS n_tokens
          |  FROM sh GROUP BY shard
          |), tot AS (SELECT sum(n_tokens) AS t_total FROM agg)
          |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(n_tokens AS BIGINT) AS n_tokens,
          |  CAST(n_tokens * 32 * 1000 // t_total AS BIGINT) AS load_permille
          |FROM agg, tot ORDER BY shard""".stripMargin,

      "d141_vocab_growth_curve" ->
        """WITH sliced AS (
          |  SELECT ('0x' || substring(md5('slice' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS slice,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), ok AS (
          |  SELECT slice, toks FROM sliced WHERE len(toks) >= 3
          |), fs AS (
          |  SELECT g, min(slice) AS first_slice FROM (
          |    SELECT slice, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT))) AS g
          |    FROM ok
          |  ) GROUP BY g
          |), per AS (
          |  SELECT first_slice AS slice, count(1) AS n_new FROM fs GROUP BY 1
          |), dp AS (
          |  SELECT slice, count(1) AS n_docs FROM ok GROUP BY slice
          |)
          |SELECT d.slice,
          |  CAST(sum(d.n_docs) OVER (ORDER BY d.slice) AS BIGINT) AS n_docs_cum,
          |  CAST(COALESCE(p.n_new, 0) AS BIGINT) AS n_new,
          |  CAST(sum(COALESCE(p.n_new, 0)) OVER (ORDER BY d.slice) AS BIGINT) AS n_trigrams_cum
          |FROM dp d LEFT JOIN per p ON p.slice = d.slice
          |ORDER BY d.slice""".stripMargin,

      "d142_filter_funnel" ->
        """WITH b AS (
          |  SELECT source,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(text) AS BIGINT) AS n_chars
          |  FROM documents
          |), sig AS (
          |  SELECT source, CAST(len(toks) AS BIGINT) AS n_words, n_chars,
          |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
          |  FROM b
          |)
          |SELECT source,
          |  CASE
          |    WHEN n_words < 10 OR n_words > 5000 THEN '1_length'
          |    WHEN n_chars < n_words * 3 OR n_chars > n_words * 12 THEN '2_word_shape'
          |    WHEN n_stop * 50 < n_words THEN '3_stopword'
          |    ELSE '4_kept' END AS stage,
          |  CAST(count(1) AS BIGINT) AS n_docs,
          |  CAST(sum(n_words) AS BIGINT) AS n_tokens
          |FROM sig GROUP BY 1, 2 ORDER BY source, stage""".stripMargin,

      "d144_score_calibration" ->
        """WITH scored AS (
          |  SELECT doc_id, source,
          |    (len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
          |       t -> t IN ('the','a','of','and','to','in','is'))) * 1000)
          |      // greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS score
          |  FROM documents
          |), ranked AS (
          |  SELECT doc_id, source, score,
          |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) - 1 AS r,
          |    count(1) OVER (PARTITION BY source) AS n
          |  FROM scored
          |)
          |SELECT doc_id, source, CAST(score AS BIGINT) AS score,
          |  CAST(r * 1000000 // greatest(n - 1, 1) AS BIGINT) AS cal_ppm
          |FROM ranked WHERE doc_id % 29 = 0 ORDER BY doc_id""".stripMargin,

      "d143_dup_cluster_histogram" ->
        """WITH corpus AS (
          |  SELECT text FROM documents
          |  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT text FROM documents WHERE doc_id % 20 = 0
          |  UNION ALL SELECT text FROM documents WHERE doc_id % 40 = 0
          |  UNION ALL SELECT text FROM documents WHERE doc_id % 40 = 0
          |), h AS (
          |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          |  FROM corpus
          |), cl AS (
          |  SELECT h, count(1) AS csize FROM h GROUP BY h
          |)
          |SELECT CAST(length(bin(csize)) - 1 AS BIGINT) AS log2_bucket,
          |  CAST(count(1) AS BIGINT) AS n_clusters,
          |  CAST(sum(csize) AS BIGINT) AS n_docs
          |FROM cl GROUP BY 1 ORDER BY log2_bucket""".stripMargin,

      "d120_annotator_kappa" ->
        """WITH base AS (
          |  SELECT doc_id, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM documents
          |), q AS (
          |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM base
          |), f AS (
          |  SELECT (quality >= 0.45) AS a, (n_tokens >= 40) AS b FROM q
          |), c AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
          |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
          |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
          |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
          |  FROM f
          |)
          |SELECT n, n11, n10, n01, n00,
          |  round(po, 6) AS po, round(pe, 6) AS pe,
          |  round((po - pe) / (1 - pe), 6) AS kappa
          |FROM (
          |  SELECT *,
          |    CAST(n11 + n00 AS DOUBLE) / n AS po,
          |    CAST((n11 + n10) * (n11 + n01)
          |       + (n01 + n00) * (n10 + n00) AS DOUBLE)
          |      / CAST(n * n AS DOUBLE) AS pe
          |  FROM c)""".stripMargin,

      "d121_lang_token_stats" ->
        """WITH corpus AS (
          |  SELECT doc_id, lang,
          |    CASE WHEN lang = 'zh' THEN text || ' 数据处理流程样本'
          |         ELSE text END AS text
          |  FROM documents
          |), p AS (
          |  SELECT lang,
          |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_toks,
          |    CAST(length(text) AS BIGINT) AS n_cp,
          |    CAST(strlen(text) AS BIGINT) AS n_bytes
          |  FROM corpus
          |)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_toks) AS BIGINT) AS tokens,
          |  CAST(sum(n_cp) AS BIGINT) AS chars,
          |  CAST(sum(n_bytes) AS BIGINT) AS bytes,
          |  round(CAST(sum(n_cp) AS DOUBLE) / CAST(sum(n_toks) AS BIGINT), 6) AS chars_per_token,
          |  round(CAST(sum(n_bytes) AS DOUBLE) / CAST(sum(n_cp) AS BIGINT), 6) AS bytes_per_char
          |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

      "d102_lsh_index_probe" ->
        s"""WITH hist AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0
           |), batch AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000, text FROM documents
           |  WHERE doc_id % 4 != 0 AND doc_id % 8 = 1
           |  UNION ALL
           |  SELECT doc_id + 3000000, text || ' update' FROM documents
           |  WHERE doc_id % 4 != 0 AND doc_id % 8 = 3
           |), hb AS (
           |  ${duckBands("hist")}
           |), bb AS (
           |  ${duckBands("batch")}
           |)
           |SELECT bb.doc_id AS doc_id,
           |  CAST(count(DISTINCT hb.doc_id) AS BIGINT) AS n_cand_docs,
           |  min(hb.doc_id) AS min_hist
           |FROM bb JOIN hb ON bb.b = hb.b AND bb.bh = hb.bh
           |GROUP BY 1 ORDER BY bb.doc_id""".stripMargin,

      "d89b_repetition_profile" ->
        """WITH docs AS (
          |  SELECT doc_id, strlen(text) AS raw_len,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), base AS (
          |  SELECT doc_id, CAST(raw_len AS BIGINT) AS raw_len,
          |    CAST(len(toks) AS BIGINT) AS n_toks,
          |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
          |  FROM docs WHERE len(toks) >= 1
          |), tf AS (
          |  SELECT doc_id, tok, count(*) AS c
          |  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs) GROUP BY 1, 2
          |), mx AS (
          |  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tf FROM tf GROUP BY 1
          |)
          |SELECT b.doc_id, raw_len, n_toks, n_distinct,
          |  n_distinct * 1000 // n_toks AS distinct_permille,
          |  max_tf * 1000 // n_toks AS top_tok_permille
          |FROM base b JOIN mx USING (doc_id)
          |ORDER BY doc_id""".stripMargin,
      "d44_lsh_recall" -> (planted +
        """
          |, toksrc AS (
          |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus
          |), sh AS (
          |  SELECT doc_id, lang, toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM toksrc WHERE len(toks) >= 3
          |), truth AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b
          |    ON a.lang = b.lang AND a.first_tok = b.first_tok
          |    AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5
          |), hs AS (
          |  SELECT doc_id,
          |    list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM sh
          |), mh AS (
          |  SELECT doc_id, list_transform(range(0, 32),
          |    j -> list_min(list_transform(hs, h -> (h * (1103515245 + 12345*j) + j * 987654321) % 2147483647))) AS mh
          |  FROM hs
          |), banded AS (
          |  SELECT doc_id, b,
          |    ('0x' || substring(md5(array_to_string(mh[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
          |  FROM mh, unnest(range(0, 8)) AS t(b)
          |), cand AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |  FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
          |)
          |SELECT count(1) AS n_true_pairs,
          |  CAST(coalesce(sum(CASE WHEN c.a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_found,
          |  CAST(coalesce(sum(CASE WHEN c.a IS NOT NULL THEN 1 END), 0) AS DOUBLE)
          |    / CAST(count(1) AS DOUBLE) AS recall
          |FROM truth t LEFT JOIN cand c ON t.a = c.a AND t.b = c.b""".stripMargin),

      "d61_length_bucketing" ->
        """WITH tk AS (
          |  SELECT doc_id,
          |    least(CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT), 1024) AS n
          |  FROM documents
          |), bk AS (
          |  SELECT doc_id, n,
          |    CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
          |         WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
          |         ELSE 1024 END AS bucket
          |  FROM tk
          |)
          |SELECT bucket, count(1) AS n_docs,
          |  CAST(sum(n) AS BIGINT) AS sum_toks,
          |  max(n) AS max_toks,
          |  bucket * count(1) - CAST(sum(n) AS BIGINT) AS padding_waste,
          |  (count(1) + 31) // 32 AS n_batches
          |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,

      "d59_ngram_familiarity" ->
        """WITH tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents
          |), bg AS (
          |  SELECT doc_id,
          |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
          |  FROM tk WHERE len(toks) >= 2
          |), cf AS (
          |  SELECT bigram, count(1) AS c FROM bg GROUP BY bigram
          |), fam AS (
          |  SELECT bigram FROM cf
          |  WHERE c * (SELECT count(1) FROM cf) >= (SELECT sum(c) FROM cf)
          |)
          |SELECT b.doc_id,
          |  CAST(count(1) AS BIGINT) AS n_bigrams,
          |  CAST(coalesce(sum(CASE WHEN f.bigram IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_familiar,
          |  CAST(coalesce(sum(CASE WHEN f.bigram IS NOT NULL THEN 1 END), 0) AS DOUBLE)
          |    / CAST(count(1) AS DOUBLE) AS familiarity
          |FROM bg b LEFT JOIN fam f ON b.bigram = f.bigram
          |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

      "d60_zorder_layout" ->
        """WITH dims AS (
          |  SELECT CAST(o_custkey % 1024 AS BIGINT) AS x,
          |    CAST(datediff('day', DATE '1995-01-01', o_orderdate) // 4 AS BIGINT) AS y
          |  FROM orders
          |), s1 AS (
          |  SELECT x, y,
          |    ((x & 65535) | ((x & 65535) << 8)) & 16711935 AS sx,
          |    ((y & 65535) | ((y & 65535) << 8)) & 16711935 AS sy
          |  FROM dims
          |), s2 AS (
          |  SELECT x, y, (sx | (sx << 4)) & 252645135 AS sx, (sy | (sy << 4)) & 252645135 AS sy FROM s1
          |), s3 AS (
          |  SELECT x, y, (sx | (sx << 2)) & 858993459 AS sx, (sy | (sy << 2)) & 858993459 AS sy FROM s2
          |), s4 AS (
          |  SELECT x, y, (sx | (sx << 1)) & 1431655765 AS sx, (sy | (sy << 1)) & 1431655765 AS sy FROM s3
          |), zed AS (
          |  SELECT x, y, (sx | (sy << 1)) // 16384 AS z_bucket FROM s4
          |)
          |SELECT z_bucket, count(1) AS n_rows,
          |  min(x) AS min_x, max(x) AS max_x,
          |  min(y) AS min_y, max(y) AS max_y
          |FROM zed GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,

      "d57_quality_calibration" ->
        """WITH r AS (
          |  SELECT doc_id, source, n_chars,
          |    percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pr
          |  FROM documents
          |)
          |SELECT source, count(1) AS n_docs,
          |  count(1) FILTER (pr >= 0.5) AS n_kept,
          |  min(doc_id) FILTER (pr >= 0.5) AS min_kept_doc,
          |  max(n_chars) FILTER (pr >= 0.5) AS max_kept_chars
          |FROM r GROUP BY source ORDER BY source""".stripMargin,

      "d56_leakage_safe_split" ->
        """WITH doms AS (
          |  SELECT doc_id, 'site' || CAST(doc_id % 37 AS VARCHAR) || '.org' AS domain
          |  FROM documents
          |), sp AS (
          |  SELECT doc_id, domain,
          |    CASE WHEN ('0x' || substring(md5(domain), 1, 15))::BIGINT % 100 < 90
          |         THEN 'train' ELSE 'val' END AS split
          |  FROM doms
          |), purity AS (
          |  SELECT max(n) AS max_splits_per_domain FROM (
          |    SELECT domain, count(DISTINCT split) AS n FROM sp GROUP BY domain)
          |)
          |SELECT split, count(1) AS n_docs, count(DISTINCT domain) AS n_domains,
          |  max_splits_per_domain
          |FROM sp, purity GROUP BY split, max_splits_per_domain
          |ORDER BY split""".stripMargin,

      "d55_domain_blocklist" ->
        """WITH docs AS (
          |  SELECT doc_id,
          |    'a' || CAST(doc_id % 3 AS VARCHAR) || '.b' || CAST(doc_id % 5 AS VARCHAR)
          |    || '.site' || CAST(doc_id % 10 AS VARCHAR) || '.org' AS host
          |  FROM documents WHERE doc_id % 3 = 0
          |), block(domain) AS (
          |  VALUES ('site3.org'), ('b2.site7.org'), ('a0.b1.site4.org'), ('badhost.net')
          |)
          |SELECT doc_id, host,
          |  EXISTS (SELECT 1 FROM block b
          |          WHERE docs.host = b.domain OR docs.host LIKE '%.' || b.domain) AS blocked
          |FROM docs ORDER BY doc_id""".stripMargin,

      "d45_url_dedup" ->
        """WITH u AS (
          |  SELECT doc_id,
          |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
          |          WHEN doc_id % 4 = 1 THEN 'https://www.'
          |          ELSE 'https://' END)
          |    || 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/page'
          |    || (CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END)
          |    || (CASE WHEN doc_id % 4 = 3 THEN '?utm_source=feed&ref=rss' ELSE '' END) AS url
          |  FROM documents WHERE doc_id % 3 = 0
          |), c AS (
          |  SELECT doc_id,
          |    'https://'
          |    || regexp_replace(lower(regexp_extract(url, '^(?i)https?://([^/?#]+)', 1)), '^www\.', '')
          |    || regexp_replace(regexp_extract(url, '^(?i)https?://[^/?#]+([^?#]*)', 1), '/$', '') AS canonical
          |  FROM u
          |)
          |SELECT canonical, count(1) AS n_urls, min(doc_id) AS keep_doc
          |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,

      "d54_span_removal" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 6000000 AS doc_id,
          |    'prefix marker words here then quoted body follows ' || text AS text
          |  FROM documents WHERE doc_id % 9 = 0
          |), toksrc AS (
          |  SELECT doc_id,
          |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
          |      t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM corpus
          |), wins AS (
          |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_toks, i AS pos,
          |    (list_sum(list_transform(range(0, 8),
          |       k -> (hs[i + 1 + k] * ([2003465299, 884122890, 2072267652, 294499921, 2248091, 17161, 131, 1])[k + 1]) % 2147483647))
          |     % 2147483647) * 2147483648
          |    + (list_sum(list_transform(range(0, 8),
          |       k -> (hs[i + 1 + k] * ([671643304, 1901585143, 1017084223, 352275361, 2571353, 18769, 137, 1])[k + 1]) % 2147483647))
          |     % 2147483647) AS wh
          |  FROM (SELECT doc_id, hs, unnest(range(0, len(hs) - 7)) AS i
          |        FROM toksrc WHERE len(hs) >= 8)
          |), owner AS (SELECT wh, min(doc_id) AS owner FROM wins GROUP BY wh),
          |rem AS (
          |  SELECT DISTINCT doc_id, unnest(range(pos + 1, pos + 9)) AS p
          |  FROM (SELECT w.doc_id, w.pos FROM wins w JOIN owner o USING (wh)
          |        WHERE o.owner < w.doc_id)
          |), agg AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n_removed
          |           FROM rem GROUP BY doc_id)
          |SELECT d.doc_id, d.n_toks, coalesce(a.n_removed, 0) AS n_removed,
          |  CAST(d.n_toks - coalesce(a.n_removed, 0) AS DOUBLE)
          |    / CAST(d.n_toks AS DOUBLE) AS keep_fraction
          |FROM (SELECT DISTINCT doc_id, n_toks FROM wins) d
          |LEFT JOIN agg a USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      "d53_embedding_outliers" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), c0 AS (SELECT vec_id AS cent_id, q AS cq FROM e WHERE vec_id < 16),
          |a1 AS (
          |  SELECT vec_id, cent_id, dist FROM (
          |    SELECT v.vec_id, c.cent_id,
          |      list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS dist,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM e v, c0 c
          |  ) WHERE rn = 1
          |), thr AS (
          |  SELECT cent_id, quantile_cont(dist, 0.75) AS p75 FROM a1 GROUP BY cent_id
          |)
          |SELECT a.cent_id, count(1) AS n_vectors, max(t.p75) AS p75,
          |  count(1) FILTER (WHERE CAST(a.dist AS DOUBLE) > t.p75) AS n_outliers,
          |  CAST(max(a.dist) AS BIGINT) AS max_dist,
          |  min(a.vec_id) FILTER (WHERE CAST(a.dist AS DOUBLE) > t.p75) AS first_outlier
          |FROM a1 a JOIN thr t USING (cent_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // replays doc-level minhash32, the per-source elementwise-min
      // union merge, and the exact shingle-set Jaccard
      "d52_sketch_union_merge" ->
        """WITH sh AS (
          |  SELECT source, list_distinct(list_transform(range(1, len(toks) - 1),
          |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |        FROM documents)
          |  WHERE len(toks) >= 3
          |), mh AS (
          |  SELECT source,
          |    list_transform(range(0, 32),
          |      j -> list_min(list_transform(hs, h -> (h * (1103515245 + 12345*j) + j * 987654321) % 2147483647))) AS mh
          |  FROM (SELECT source,
          |          list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
          |        FROM sh)
          |), posmin AS (
          |  SELECT source, i AS pos, min(mh[i]) AS mv
          |  FROM mh, unnest(range(1, 33)) AS t(i)
          |  GROUP BY source, i
          |), sk AS (
          |  SELECT source, list(mv ORDER BY pos) AS sk FROM posmin GROUP BY source
          |), ex AS (
          |  SELECT DISTINCT source, g
          |  FROM (SELECT source, unnest(shingles) AS g FROM sh)
          |), sizes AS (SELECT source, count(1) AS n FROM ex GROUP BY source),
          |shared AS (
          |  SELECT a.source AS sa, b.source AS sb, count(1) AS shared
          |  FROM ex a JOIN ex b ON a.g = b.g AND a.source < b.source
          |  GROUP BY 1, 2
          |)
          |SELECT x.source AS sa, y.source AS sb,
          |  CAST(list_sum(list_transform(range(1, 33),
          |    i -> CASE WHEN x.sk[i] = y.sk[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS est_jaccard,
          |  CAST(coalesce(s.shared, 0) AS DOUBLE)
          |    / CAST(na.n + nb.n - coalesce(s.shared, 0) AS DOUBLE) AS jaccard
          |FROM sk x JOIN sk y ON x.source < y.source
          |LEFT JOIN shared s ON s.sa = x.source AND s.sb = y.source
          |JOIN sizes na ON na.source = x.source
          |JOIN sizes nb ON nb.source = y.source
          |ORDER BY sa, sb""".stripMargin,

      "d51_classifier_score" ->
        """WITH w AS (
          |  SELECT b AS bucket,
          |    ('0x' || substring(md5('w-' || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS w
          |  FROM (SELECT unnest(range(0, 4096)) AS b)
          |), toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          |  FROM documents
          |), bk AS (
          |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
          |  FROM toks
          |)
          |SELECT doc_id, count(1) AS n_toks, CAST(sum(w.w) AS BIGINT) AS margin,
          |  CAST(sum(w.w) AS BIGINT) > 0 AS accept
          |FROM bk JOIN w USING (bucket)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // the exact-dup count is replayed; the Bloom-semantics booleans
      // (guaranteed no false negatives; fp count under the sized
      // bound) are pinned
      "d50_bloom_dedup" ->
        """WITH history AS (
          |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          |  FROM documents WHERE doc_id % 4 <> 0
          |), new_batch AS (
          |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          |  FROM documents WHERE doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          |  FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 8 = 1
          |)
          |SELECT count(1) AS n_new,
          |  count(1) FILTER (WHERE h IN (SELECT h FROM history)) AS n_exact_dups,
          |  TRUE AS no_false_negatives,
          |  TRUE AS fp_rate_ok
          |FROM new_batch""".stripMargin,

      // rational-idf BM25: only IEEE + − × / on exact ints → DOUBLE
      // scores are engine-identical (the constants are decimal
      // literals, correctly-rounded to the same doubles everywhere)
      "d46_bm25_terms" ->
        """WITH tf AS (
          |  SELECT doc_id, term, count(1) AS tf
          |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          |        FROM documents)
          |  GROUP BY doc_id, term
          |), dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
          |stats AS (SELECT count(1) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
          |dfreq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
          |scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl,
          |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
          |      * (CAST(tf.tf AS DOUBLE) * 2.2)
          |      / (CAST(tf.tf AS DOUBLE)
          |         + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
          |                                 / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS score
          |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats
          |), ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
          |  FROM scored
          |)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, dl, score
          |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

      "d47_span_dedup" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 5000000 AS doc_id,
          |    array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 1, 40), ' ')
          |      || ' distinct tail marker' || CAST((doc_id + 5000000) % 97 AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 11 = 0
          |), toksrc AS (
          |  SELECT doc_id,
          |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
          |      t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM corpus
          |), wins AS (
          |  -- double Rabin fingerprint per 8-token window, replayed with
          |  -- the engine's pinned power tables (bases 131/137 mod 2^31-1)
          |  SELECT DISTINCT doc_id, wh FROM (
          |    SELECT doc_id,
          |      (list_sum(list_transform(range(0, 8),
          |         k -> (hs[i + 1 + k] * ([2003465299, 884122890, 2072267652, 294499921, 2248091, 17161, 131, 1])[k + 1]) % 2147483647))
          |       % 2147483647) * 2147483648
          |      + (list_sum(list_transform(range(0, 8),
          |         k -> (hs[i + 1 + k] * ([671643304, 1901585143, 1017084223, 352275361, 2571353, 18769, 137, 1])[k + 1]) % 2147483647))
          |       % 2147483647) AS wh
          |    FROM (SELECT doc_id, hs, unnest(range(0, len(hs) - 7)) AS i
          |          FROM toksrc WHERE len(hs) >= 8)
          |  ) WHERE wh % 4 = 0
          |), rare AS (
          |  SELECT wh FROM wins GROUP BY wh HAVING count(1) <= 32
          |), pw AS (
          |  SELECT w.doc_id, w.wh FROM wins w JOIN rare USING (wh)
          |)
          |SELECT a.doc_id AS a, b.doc_id AS b, count(1) AS shared_windows
          |FROM pw a JOIN pw b ON a.wh = b.wh AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(1) >= 2 ORDER BY a, b""".stripMargin,

      // sequential Poisson: priority = u / w, two IEEE divisions —
      // engine-identical, so the sample itself hash-checks
      "d48_weighted_sample" ->
        """WITH pri AS (
          |  SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
          |    (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |       / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS pri
          |  FROM documents WHERE n_chars > 0
          |), ranked AS (
          |  SELECT lang, doc_id, weight,
          |    row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rank
          |  FROM pri
          |)
          |SELECT lang, doc_id, weight, CAST(rank AS BIGINT) AS rank
          |FROM ranked WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

      "d49_token_chunking" ->
        """WITH toksrc AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents
          |), st AS (
          |  SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start FROM toksrc
          |)
          |SELECT doc_id, start // 48 AS chunk_id, CAST(start AS BIGINT) AS start_tok,
          |  CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT) AS chunk_toks,
          |  md5(array_to_string(list_slice(toks, start + 1, start + 64), ' ')) AS chunk_hash
          |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

      "d42_dsir_importance" ->
        """WITH toks AS (
          |  SELECT doc_id, lang,
          |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          |  FROM documents
          |), b AS (
          |  SELECT doc_id, lang,
          |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1024 AS b
          |  FROM toks
          |), src AS (SELECT b, count(1) AS sc FROM b GROUP BY b),
          |tgt AS (SELECT b, count(1) AS tc FROM b WHERE lang = 'en' GROUP BY b),
          |w AS (
          |  SELECT src.b AS b, ((coalesce(tc, 0) + 1) * 1000000) // (sc + 1) AS wt
          |  FROM src LEFT JOIN tgt ON src.b = tgt.b
          |)
          |SELECT doc_id, CAST(sum(wt) AS BIGINT) AS importance, count(1) AS n_toks
          |FROM b JOIN w USING (b)
          |GROUP BY doc_id ORDER BY importance DESC, doc_id LIMIT 20""".stripMargin,

      "d43_containment_dedup" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 4000000 AS doc_id,
          |    text || ' editorial commentary appended after the quoted article body ends here' AS text
          |  FROM documents WHERE doc_id % 7 = 0
          |), toksrc AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus
          |), sh0 AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          |    i -> ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT))) AS sh
          |  FROM toksrc WHERE len(toks) >= 3
          |), sh AS (
          |  SELECT doc_id, sh FROM sh0 WHERE sh % 4 = 0
          |), rare AS (
          |  SELECT sh FROM sh GROUP BY sh HAVING count(1) <= 32
          |), pruned AS (
          |  SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)
          |), np AS (
          |  SELECT doc_id, count(1) AS np FROM pruned GROUP BY doc_id
          |), pairs AS (
          |  SELECT x.doc_id AS a, y.doc_id AS b, count(1) AS shared
          |  FROM pruned x JOIN pruned y ON x.sh = y.sh AND x.doc_id <> y.doc_id
          |  GROUP BY 1, 2
          |)
          |SELECT a AS contained_id, b AS container_id, shared,
          |  CAST(na.np AS BIGINT) AS na, CAST(nb.np AS BIGINT) AS nb
          |FROM pairs JOIN np na ON na.doc_id = a JOIN np nb ON nb.doc_id = b
          |WHERE shared * 10 >= na.np * 9 AND na.np >= 10
          |ORDER BY contained_id, container_id""".stripMargin,

      "d01_dedup_exact" -> (planted +
        """
          |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(1) AS n_copies
          |FROM corpus GROUP BY 1 ORDER BY 1""".stripMargin),

      "d02_dedup_normalized" -> (planted +
        """
          |, norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM corpus)
          |SELECT md5(n) AS content_hash, min(doc_id) AS keep_id, count(1) AS n_copies,
          |  max(length(n)) AS n_chars
          |FROM norm GROUP BY 1 ORDER BY 1""".stripMargin),

      "d35_paragraph_dedup" -> (planted +
        """
          |, tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM corpus)
          |, chunks AS (
          |  SELECT doc_id, i AS chunk_idx,
          |    md5(array_to_string(list_slice(t, i * 20 + 1, i * 20 + 20), ' ')) AS h
          |  FROM tk, unnest(range(0, CAST(ceil(len(t) / 20.0) AS INT))) AS u(i)
          |), ranked AS (
          |  SELECT doc_id,
          |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
          |  FROM chunks
          |)
          |SELECT doc_id, count(1) AS n_chunks,
          |  count(CASE WHEN rn > 1 THEN 1 END) AS n_dup_chunks,
          |  CAST(count(CASE WHEN rn > 1 THEN 1 END) AS DOUBLE) / count(1) AS dup_ratio
          |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

      "d37_gopher_rules" ->
        """WITH tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
          |), m AS (
          |  SELECT doc_id,
          |    CAST(len(t) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS n_chars,
          |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
          |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','that'))) AS BIGINT) AS n_stop
          |  FROM tk
          |)
          |SELECT doc_id, n_words,
          |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
          |  (CAST(n_chars AS DOUBLE) / n_words >= 3.0
          |    AND CAST(n_chars AS DOUBLE) / n_words <= 10.0) AS r_mean_word_len,
          |  (CAST(n_alpha AS DOUBLE) / n_words >= 0.8) AS r_alpha_frac,
          |  (n_stop >= 2) AS r_stopwords,
          |  ((n_words >= 50 AND n_words <= 100000)
          |    AND CAST(n_chars AS DOUBLE) / n_words >= 3.0
          |    AND CAST(n_chars AS DOUBLE) / n_words <= 10.0
          |    AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
          |    AND n_stop >= 2) AS pass
          |FROM m ORDER BY doc_id""".stripMargin,

      "d03_token_count" ->
        """SELECT doc_id,
          |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
          |  CAST(length(text) AS BIGINT) AS n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,

      "d04_quality_score" ->
        """WITH base AS (
          |  SELECT doc_id, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM documents
          |)
          |SELECT doc_id,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  alpha_chars,
          |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_hits,
          |  0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |    + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |             / CAST(len(toks) AS DOUBLE))
          |    + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |FROM base ORDER BY doc_id""".stripMargin,

      "d38_bpe_pairs" ->
        """WITH tk AS (
          |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
          |), pairs AS (
          |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS pair
          |  FROM tk WHERE len(t) >= 2
          |), cnts AS (
          |  SELECT pair, count(1) AS cnt FROM pairs GROUP BY pair
          |), ranked AS (
          |  SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rank FROM cnts
          |)
          |SELECT CAST(rank AS BIGINT) AS rank, pair, cnt
          |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,

      "d39_training_order" ->
        """SELECT doc_id, shard, CAST(pos AS BIGINT) AS pos FROM (
          |  SELECT doc_id, h % 8 AS shard,
          |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
          |  FROM (SELECT doc_id,
          |          ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |        FROM documents)
          |) ORDER BY shard, pos""".stripMargin,

      "d40_ann_filtered" ->
        """WITH e AS (
          |  SELECT vec_id, label,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, label, q,
          |    list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS nrm
          |  FROM e
          |), scored AS (
          |  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    round(CAST(list_sum(list_transform(range(1, 65), i -> qr.q[i] * c.q[i])) AS DOUBLE)
          |      / (sqrt(CAST(qr.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 6) AS cos
          |  FROM n qr JOIN n c ON c.vec_id <> qr.vec_id AND c.label % 2 = 0
          |  WHERE qr.vec_id < 10
          |), ranked AS (
          |  SELECT query_id, neighbor_id, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM scored
          |)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos
          |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // quality formula replicated from the d04 oracle; cumsum order
      // (quality DESC, doc_id) is deterministic because the quality
      // doubles are engine-identical (d04 hash-passes)
      "d41_token_budget" ->
        """WITH base AS (
          |  SELECT doc_id, source, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
          |  FROM documents
          |), q AS (
          |  SELECT doc_id, source,
          |    CAST(len(toks) AS BIGINT) AS n_tokens,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(alpha_chars AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM base
          |), c AS (
          |  SELECT source, doc_id, quality, n_tokens,
          |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          |  FROM q
          |)
          |SELECT source, count(1) AS n_docs_kept,
          |  CAST(max(cum_tokens) AS BIGINT) AS tokens_kept,
          |  min(quality) AS min_quality_kept
          |FROM c WHERE cum_tokens <= 2000
          |GROUP BY source ORDER BY source""".stripMargin,

      "d05_lang_id" ->
        """WITH scored AS (
          |  SELECT lang,
          |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS s_en,
          |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','mit'))) AS s_de,
          |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los'))) AS s_es,
          |    len(list_filter(toks, t -> t IN ('le','les','et','des','un','une','est'))) AS s_fr,
          |    len(list_filter(toks, t -> t IN ('的','是','不','了','在','我','有'))) AS s_zh
          |  FROM (SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
          |), pred AS (
          |  SELECT lang, CASE
          |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
          |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
          |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
          |    WHEN s_fr >= s_zh THEN 'fr'
          |    ELSE 'zh' END AS pred_lang
          |  FROM scored
          |)
          |SELECT lang, pred_lang, count(1) AS cnt FROM pred
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "d06_fingerprint" ->
        """SELECT doc_id,
          |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fingerprint
          |FROM documents ORDER BY doc_id""".stripMargin,

      "d58_sorted_neighborhood" -> (planted +
        """
          |, n AS (
          |  SELECT doc_id,
          |    substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 24) AS sk,
          |    substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 6) AS blk,
          |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
          |  FROM corpus
          |), k AS (
          |  SELECT doc_id, sk, blk, toks,
          |    row_number() OVER (PARTITION BY blk ORDER BY sk, doc_id) AS rn
          |  FROM n
          |), p AS (
          |  SELECT least(x.doc_id, y.doc_id) AS a, greatest(x.doc_id, y.doc_id) AS b,
          |    len(list_intersect(x.toks, y.toks)) AS inter,
          |    len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks)) AS uni
          |  FROM k x JOIN k y ON x.blk = y.blk AND y.rn > x.rn AND y.rn <= x.rn + 3
          |)
          |SELECT a, b, CAST(inter AS DOUBLE) / uni AS jaccard
          |FROM p WHERE CAST(inter AS DOUBLE) / uni >= 0.5
          |ORDER BY a, b""".stripMargin),

      "d08_dedup_ngram_jaccard" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id, lang,
          |    toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |)
          |SELECT a.doc_id AS a, b.doc_id AS b,
          |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |    / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
          |FROM sh a JOIN sh b
          |  ON a.lang = b.lang AND a.first_tok = b.first_tok
          |  AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |    / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.3
          |ORDER BY a, b""".stripMargin),

      // The cluster oracle re-derives the d08 pair graph, then takes the
      // transitive closure with a recursive CTE: min reachable id ==
      // the label-propagation fixpoint on a symmetric edge set.
      // the composed front door; quality doubles are engine-identical
      // (d04 hash-passes) so the >= 0.5 gate cannot straddle
      "d100_pipeline_e2e" ->
        """WITH corpus AS (
          |  SELECT doc_id, text, source FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text || ' zzz', source
          |  FROM documents WHERE doc_id % 10 = 0
          |), normed AS (
          |  SELECT doc_id, source, text,
          |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          |  FROM corpus
          |), keep AS (
          |  SELECT min(doc_id) AS doc_id FROM normed GROUP BY md5(norm)
          |), kept AS (
          |  SELECT n.doc_id, n.source, n.text FROM normed n JOIN keep USING (doc_id)
          |), q AS (
          |  SELECT doc_id, source,
          |    CAST(len(toks) AS BIGINT) AS n_tokens,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          |               / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM (SELECT doc_id, source, text,
          |          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |        FROM kept)
          |)
          |SELECT CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 9
          |         THEN 'train' ELSE 'eval' END AS split,
          |  source, CAST(count(1) AS BIGINT) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          |  CAST(sum(alpha_chars) AS BIGINT) AS alpha_chars
          |FROM q WHERE quality >= 0.5
          |GROUP BY 1, 2 ORDER BY split, source""".stripMargin,

      "d99_mixture_interleave" ->
        """WITH w AS (
          |  SELECT doc_id, source,
          |    1 + ('0x' || substring(md5(source), 1, 15))::BIGINT % 5 AS weight
          |  FROM documents
          |), ranked AS (
          |  SELECT doc_id, source, weight,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
          |  FROM w
          |), vt AS (
          |  SELECT doc_id, source, weight, rk,
          |    CAST(rk AS BIGINT) * 1000000 // weight AS vtime
          |  FROM ranked
          |), top AS (
          |  SELECT * FROM vt ORDER BY vtime, source, doc_id LIMIT 200
          |)
          |SELECT CAST(row_number() OVER (ORDER BY vtime, source, doc_id) AS INT) AS pos,
          |  vtime, source, rk, weight, doc_id
          |FROM top ORDER BY pos""".stripMargin,

      // d21's closure + cluster-granular split assignment; the
      // straddling-pair count is pinned 0 by construction
      "d98_leakproof_split" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id, lang,
          |    toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), pairs AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b
          |    ON a.lang = b.lang AND a.first_tok = b.first_tok
          |    AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.3
          |), edges AS (
          |  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
          |), reach AS (
          |  SELECT src AS node, src AS r FROM edges
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
          |), cc AS (
          |  SELECT node, min(r) AS lab FROM reach GROUP BY node
          |), reps AS (
          |  SELECT c.doc_id, coalesce(cc.lab, c.doc_id) AS rep,
          |    CASE WHEN ('0x' || substring(md5(CAST(coalesce(cc.lab, c.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
          |      THEN 'train' ELSE 'eval' END AS split
          |  FROM (SELECT doc_id FROM corpus) c LEFT JOIN cc ON cc.node = c.doc_id
          |)
          |SELECT split, CAST(count(1) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
          |  (SELECT CAST(count(1) AS BIGINT) FROM pairs p
          |     JOIN reps ra ON ra.doc_id = p.a
          |     JOIN reps rb ON rb.doc_id = p.b
          |     WHERE ra.split != rb.split) AS n_straddling
          |FROM reps GROUP BY 1 ORDER BY split""".stripMargin)
        .replace("WITH corpus", "WITH RECURSIVE corpus"),

      // same transitive closure as d21, emitted as (rep, member) pairs
      "d97_contrastive_pairs" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id, lang,
          |    toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), pairs AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b
          |    ON a.lang = b.lang AND a.first_tok = b.first_tok
          |    AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.3
          |), edges AS (
          |  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
          |), reach AS (
          |  SELECT src AS node, src AS r FROM edges
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
          |)
          |SELECT min(r) AS anchor_id, node AS positive_id
          |FROM reach GROUP BY node HAVING node != min(r)
          |ORDER BY anchor_id, positive_id""".stripMargin)
        .replace("WITH corpus", "WITH RECURSIVE corpus"),

      "d21_dedup_clusters" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id, lang,
          |    toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), pairs AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b
          |    ON a.lang = b.lang AND a.first_tok = b.first_tok
          |    AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.3
          |), edges AS (
          |  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
          |), reach AS (
          |  SELECT src AS node, src AS r FROM edges
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
          |)
          |SELECT node AS doc_id, min(r) AS cluster_rep, node = min(r) AS keep
          |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)
        .replace("WITH corpus", "WITH RECURSIVE corpus"),

      "d33_cluster_retention" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id, lang,
          |    toks[1] AS first_tok,
          |    CAST(len(toks) // 8 AS INTEGER) AS n_toks_bucket,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), pairs AS (
          |  SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b
          |    ON a.lang = b.lang AND a.first_tok = b.first_tok
          |    AND a.n_toks_bucket = b.n_toks_bucket AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.3
          |), edges AS (
          |  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
          |), reach AS (
          |  SELECT src AS node, src AS r FROM edges
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
          |), cc AS (
          |  SELECT node, min(r) AS lab FROM reach GROUP BY node
          |), qual AS (
          |  SELECT doc_id,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |               / CAST(len(toks) AS DOUBLE))
          |      + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          |               / CAST(length(text) AS DOUBLE)) AS quality
          |  FROM (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |), ranked AS (
          |  SELECT lab, node, quality,
          |    row_number() OVER (PARTITION BY lab ORDER BY quality DESC, node) AS rn
          |  FROM cc JOIN qual ON cc.node = qual.doc_id
          |)
          |SELECT lab AS cluster, count(1) AS n_members,
          |  max(CASE WHEN rn = 1 THEN node END) AS keep_doc,
          |  max(CASE WHEN rn = 1 THEN quality END) AS keep_quality
          |FROM ranked GROUP BY lab ORDER BY cluster""".stripMargin)
        .replace("WITH corpus", "WITH RECURSIVE corpus"),

      "d22_pii_redaction" ->
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0
          |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
          |        || '@example.com or +1-555-' || printf('%04d', doc_id % 10000)
          |      ELSE text END AS text2
          |  FROM documents
          |)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
          |  md5(regexp_replace(
          |    regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
          |FROM p ORDER BY doc_id""".stripMargin,

      // the reg domain re-derived by construction: the oracle knows the
      // URL template, the ENGINE must parse the host and PSL-match it
      // (wildcard *.ck, multi-label Co.UK, private-section github.io)
      "d147_reg_domain_groups" ->
        """WITH u AS (
          |  SELECT CASE c_custkey % 4
          |    WHEN 0 THEN 'example.com'
          |    WHEN 1 THEN 'Sample.Co.UK'
          |    WHEN 2 THEN 'github.io'
          |    ELSE 'shop-' || CAST(c_custkey % 50 AS VARCHAR) || '.web.ck' END AS rd
          |  FROM customer
          |)
          |SELECT rd, CAST(count(*) AS BIGINT) AS n
          |FROM u GROUP BY rd ORDER BY rd""".stripMargin,

      "d23_url_stats" ->
        """WITH p AS (
          |  SELECT doc_id, text
          |    || CASE WHEN doc_id % 5 = 0
          |         THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/page'
          |         ELSE '' END
          |    || CASE WHEN doc_id % 3 = 0
          |         THEN ' ref http://www.ref' || CAST(doc_id % 7 AS VARCHAR) || '.net/x?id=' || CAST(doc_id AS VARCHAR)
          |         ELSE '' END AS text2
          |  FROM documents
          |), u AS (
          |  SELECT doc_id, unnest(regexp_extract_all(text2, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
          |  FROM p
          |)
          |SELECT domain, count(1) AS n_urls, count(DISTINCT doc_id) AS n_docs
          |FROM u GROUP BY domain ORDER BY domain""".stripMargin,

      // Full LSH replication: md5-derived base hashes make the 32
      // affine-permutation minhashes, the 8×4 banding, the candidate
      // pairs, and both verification measures engine-portable — the
      // oracle runs the ENTIRE pipeline, not a relaxation of it.
      "d07_dedup_minhash_lsh" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), hs AS (
          |  SELECT doc_id, shingles,
          |    list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM sh
          |), mh AS (
          |  SELECT doc_id, shingles,
          |    list_transform(range(0, 32),
          |      j -> list_min(list_transform(hs, h -> (h * (1103515245 + 12345*j) + j * 987654321) % 2147483647))) AS mh
          |  FROM hs
          |), banded AS (
          |  SELECT doc_id, b,
          |    ('0x' || substring(md5(array_to_string(mh[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
          |  FROM mh, unnest(range(0, 8)) AS t(b)
          |), pairs AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |  FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
          |)
          |SELECT p.a, p.b,
          |  CAST(list_sum(list_transform(range(1, 33),
          |    i -> CASE WHEN ma.mh[i] = mb.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS est_jaccard,
          |  CAST(len(list_intersect(ma.shingles, mb.shingles)) AS DOUBLE)
          |    / CAST(len(list_distinct(list_concat(ma.shingles, mb.shingles))) AS DOUBLE) AS jaccard
          |FROM pairs p
          |JOIN mh ma ON ma.doc_id = p.a
          |JOIN mh mb ON mb.doc_id = p.b
          |WHERE CAST(list_sum(list_transform(range(1, 33),
          |    i -> CASE WHEN ma.mh[i] = mb.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 >= 0.5
          |  AND CAST(len(list_intersect(ma.shingles, mb.shingles)) AS DOUBLE)
          |    / CAST(len(list_distinct(list_concat(ma.shingles, mb.shingles))) AS DOUBLE) >= 0.3
          |ORDER BY a, b""".stripMargin),

      // d63 replays d07's entire MinHash-LSH pipeline (same CTE chain,
      // same thresholds) and joins the d56 domain-split hash on both
      // pair ends.
      "d63_cross_split_leakage" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), hs AS (
          |  SELECT doc_id, shingles,
          |    list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
          |  FROM sh
          |), mh AS (
          |  SELECT doc_id, shingles,
          |    list_transform(range(0, 32),
          |      j -> list_min(list_transform(hs, h -> (h * (1103515245 + 12345*j) + j * 987654321) % 2147483647))) AS mh
          |  FROM hs
          |), banded AS (
          |  SELECT doc_id, b,
          |    ('0x' || substring(md5(array_to_string(mh[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
          |  FROM mh, unnest(range(0, 8)) AS t(b)
          |), pairs AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |  FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
          |), verified AS (
          |  SELECT p.a, p.b
          |  FROM pairs p
          |  JOIN mh ma ON ma.doc_id = p.a
          |  JOIN mh mb ON mb.doc_id = p.b
          |  WHERE CAST(list_sum(list_transform(range(1, 33),
          |      i -> CASE WHEN ma.mh[i] = mb.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 >= 0.5
          |    AND CAST(len(list_intersect(ma.shingles, mb.shingles)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_concat(ma.shingles, mb.shingles))) AS DOUBLE) >= 0.3
          |), sp AS (
          |  SELECT doc_id,
          |    CASE WHEN ('0x' || substring(md5('site' || CAST(doc_id % 37 AS VARCHAR) || '.org'), 1, 15))::BIGINT % 100 < 90
          |         THEN 'train' ELSE 'val' END AS split
          |  FROM corpus
          |)
          |SELECT v.a, v.b, sa.split AS split_a, sb.split AS split_b,
          |  sa.split <> sb.split AS cross_split
          |FROM verified v
          |JOIN sp sa ON sa.doc_id = v.a
          |JOIN sp sb ON sb.doc_id = v.b
          |ORDER BY a, b""".stripMargin),

      "d62_sentence_pack_chunks" ->
        """WITH sp AS (
          |  SELECT doc_id, string_split(text, '.') AS parts FROM documents
          |), sent AS (
          |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, trim(parts[i]) AS sent
          |  FROM sp, unnest(range(1, len(parts) + 1)) AS t(i)
          |  WHERE length(trim(parts[i])) > 0
          |), tk AS (
          |  SELECT doc_id, idx,
          |    CAST(len(regexp_split_to_array(sent, '\s+')) AS BIGINT) AS n_toks
          |  FROM sent
          |), cm AS (
          |  SELECT doc_id, idx, n_toks,
          |    sum(n_toks) OVER (PARTITION BY doc_id ORDER BY idx) AS cum
          |  FROM tk
          |)
          |SELECT doc_id, CAST((cum - n_toks) // 64 AS BIGINT) AS chunk_id,
          |  count(1) AS n_sentences,
          |  CAST(sum(n_toks) AS BIGINT) AS chunk_toks,
          |  min(idx) AS first_sent, max(idx) AS last_sent
          |FROM cm GROUP BY doc_id, chunk_id
          |ORDER BY doc_id, chunk_id""".stripMargin,

      "d64_anneal_mixture" ->
        """WITH tk AS (
          |  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), per AS (
          |  SELECT source,
          |    CAST(sum(len(toks)) AS BIGINT) AS tokens,
          |    CAST(sum(CASE WHEN len(list_filter(toks,
          |      t -> t IN ('the','a','of','and','to','in','is','that'))) >= 2
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
          |  FROM tk GROUP BY source
          |), tot AS (
          |  SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens,
          |    CAST(sum(n_quality) AS BIGINT) AS tot_quality
          |  FROM per
          |)
          |SELECT epoch, source, tokens, n_quality,
          |  round(((3 - epoch) * (CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))
          |    + epoch * (CAST(n_quality AS DOUBLE) / CAST(tot_quality AS DOUBLE))) / 3, 6) AS weight,
          |  CAST(round((((3 - epoch) * (CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))
          |    + epoch * (CAST(n_quality AS DOUBLE) / CAST(tot_quality AS DOUBLE))) / 3) * 10000000.0) AS BIGINT) AS alloc_tokens
          |FROM per, tot, unnest(range(0, 4)) AS t(epoch)
          |ORDER BY epoch, source""".stripMargin,

      "d65_cluster_balanced_sample" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), sg AS (
          |  SELECT vec_id,
          |    CAST(list_sum(list_transform(range(0, 16),
          |      p -> CASE WHEN list_sum(list_transform(range(1, 65),
          |             i -> q[i] * (((p*131 + (i-1)*37) % 7) - 3))) > 0
          |           THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT) AS sig
          |  FROM e
          |), rn AS (
          |  SELECT vec_id, sig,
          |    row_number() OVER (PARTITION BY sig ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
          |  FROM sg
          |)
          |SELECT sig, count(1) AS n_vecs,
          |  CAST(sum(CASE WHEN rn <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(sum(CASE WHEN rn <= 4 THEN vec_id END) AS BIGINT) AS kept_id_sum
          |FROM rn GROUP BY sig ORDER BY sig""".stripMargin,

      "d66_c4_line_filter" ->
        """WITH base AS (
          |  SELECT doc_id, regexp_split_to_array(text, ' ') AS toks,
          |    CAST(5 + doc_id % 7 AS INTEGER) AS lw
          |  FROM documents
          |), lines AS (
          |  SELECT doc_id, CAST(i AS BIGINT) AS ln,
          |    toks[i*lw + 1 : i*lw + lw] AS line_toks
          |  FROM base, unnest(range(0, (len(toks) + lw - 1) // lw)) AS t(i)
          |), flags AS (
          |  SELECT doc_id, ln, array_to_string(line_toks, ' ') AS line,
          |    len(line_toks) < 4 AS r_short,
          |    list_contains(line_toks, 'slow') AS r_block,
          |    len(list_intersect(line_toks, ['a', 'the', 'is'])) = 0 AS r_nostop
          |  FROM lines
          |), elig AS (
          |  SELECT doc_id, ln, line,
          |    row_number() OVER (PARTITION BY line ORDER BY doc_id, ln) AS rn
          |  FROM flags WHERE NOT r_short AND NOT r_block AND NOT r_nostop
          |), j AS (
          |  SELECT f.doc_id, f.ln, f.line, f.r_short, f.r_block, f.r_nostop, e.rn
          |  FROM flags f LEFT JOIN elig e USING (doc_id, ln)
          |)
          |SELECT doc_id, count(1) AS n_lines,
          |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(sum(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_short,
          |  CAST(sum(CASE WHEN NOT r_short AND r_block THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_block,
          |  CAST(sum(CASE WHEN NOT r_short AND NOT r_block AND r_nostop THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_nostop,
          |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dup,
          |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY ln), '')) AS kept_hash
          |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // d67: the oracle replays the 6 greedy merge rounds as chained
      // CTEs; replace() is literal, non-overlapping, left-to-right in
      // both engines, and the double-space symbol encoding makes one
      // replace per round exactly the BPE merge step.
      "d67_bpe_train" -> {
        val rounds = (1 to 6).map { r =>
          val prev = if (r == 1) "v0" else s"v${r - 1}"
          s""", p$r AS (
             |  SELECT s1 AS l, s2 AS rr, CAST(sum(cnt) AS BIGINT) AS c
             |  FROM (
             |    SELECT cnt, syms[i] AS s1, syms[i + 1] AS s2
             |    FROM (SELECT cnt, list_filter(string_split(sym, '  '), x -> x <> '') AS syms FROM $prev),
             |         unnest(range(1, len(syms))) AS t(i)
             |  ) GROUP BY 1, 2
             |), b$r AS MATERIALIZED (
             |  SELECT l, rr, c FROM p$r ORDER BY c DESC, l, rr LIMIT 1
             |), v$r AS MATERIALIZED (
             |  SELECT replace(v.sym, ' ' || b.l || '  ' || b.rr || ' ',
             |                 ' ' || b.l || b.rr || ' ') AS sym, v.cnt
             |  FROM $prev v, b$r b
             |)""".stripMargin
        }.mkString
        val finals = (1 to 6).map(r =>
          s"  SELECT CAST($r AS BIGINT) AS merge_rank, l AS left_sym, rr AS right_sym, l || rr AS merged, c AS pair_count FROM b$r")
          .mkString("\n  UNION ALL\n")
        s"""WITH words AS (
           |  SELECT w, CAST(count(1) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(regexp_split_to_array(text, ' ')) AS w FROM documents
           |  ) WHERE length(w) > 0 GROUP BY w
           |), v0 AS (
           |  SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS sym, cnt FROM words
           |)$rounds
           |SELECT * FROM (
           |$finals
           |) ORDER BY merge_rank""".stripMargin
      },

      "d68_ngram_novelty" ->
        """WITH g AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          |    i -> array_to_string(toks[i : i + 2], ' ')))) AS gram
          |  FROM (SELECT doc_id, regexp_split_to_array(text, ' ') AS toks FROM documents)
          |), f AS (
          |  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
          |)
          |SELECT g.doc_id, count(1) AS n_grams,
          |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          |  (CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 2) < count(1) AS mostly_stale
          |FROM g JOIN f USING (gram)
          |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

      "d69_unimax_allocation" ->
        """WITH caps AS (
          |  SELECT source, CAST(sum(len(regexp_split_to_array(text, ' '))) AS BIGINT) AS cap_tokens
          |  FROM documents GROUP BY source
          |), tot AS (
          |  SELECT CAST(sum(cap_tokens) * 2 // 3 AS BIGINT) AS budget,
          |    count(1) AS n_src
          |  FROM caps
          |), ranked AS (
          |  SELECT c.source, c.cap_tokens, t.budget, t.n_src,
          |    row_number() OVER (ORDER BY c.cap_tokens, c.source) AS rank_asc,
          |    coalesce(sum(c.cap_tokens) OVER (ORDER BY c.cap_tokens, c.source
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
          |  FROM caps c, tot t
          |), flagged AS (
          |  SELECT *, cap_tokens * (n_src - rank_asc + 1) > budget - prefix AS uncapped
          |  FROM ranked
          |), cut AS (
          |  SELECT rank_asc AS k,
          |    CAST((budget - prefix) // (n_src - rank_asc + 1) AS BIGINT) AS level_tokens
          |  FROM flagged WHERE uncapped ORDER BY rank_asc LIMIT 1
          |)
          |SELECT f.source, f.cap_tokens, CAST(f.rank_asc AS BIGINT) AS rank_asc,
          |  CAST(CASE WHEN f.rank_asc < c.k THEN f.cap_tokens ELSE c.level_tokens END AS BIGINT) AS alloc_tokens,
          |  f.rank_asc < c.k AS capped
          |FROM flagged f, cut c ORDER BY f.rank_asc""".stripMargin,

      // 3 PageRank iterations unrolled as CTEs; identical scaled-integer
      // arithmetic (`//` floor-div on positives ≡ Spark's `div`).
      "d70_domain_pagerank" ->
        """WITH p AS (
          |  SELECT doc_id, text
          |    || CASE WHEN doc_id % 5 = 0
          |         THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/page'
          |         ELSE '' END
          |    || CASE WHEN doc_id % 3 = 0
          |         THEN ' ref http://www.ref' || CAST(doc_id % 7 AS VARCHAR) || '.net/x?id=' || CAST(doc_id AS VARCHAR)
          |         ELSE '' END AS text2
          |  FROM documents
          |), links AS (
          |  SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS src,
          |    unnest(regexp_extract_all(text2, 'https?://([A-Za-z0-9.-]+)', 1)) AS dst
          |  FROM p
          |), e AS (
          |  SELECT DISTINCT src, dst FROM links WHERE src <> dst
          |), nodes AS (
          |  SELECT src AS domain FROM e UNION SELECT dst FROM e
          |), od AS (
          |  SELECT src, count(1) AS out_deg FROM e GROUP BY src
          |), r0 AS (
          |  SELECT domain, CAST(1000000000 AS BIGINT) AS rank FROM nodes
          |), c1 AS (
          |  SELECT e.dst, sum(r.rank // o.out_deg) AS inc
          |  FROM e JOIN r0 r ON e.src = r.domain JOIN od o ON e.src = o.src GROUP BY e.dst
          |), r1 AS (
          |  SELECT n.domain, CAST(150000000 + (85 * coalesce(c.inc, 0)) // 100 AS BIGINT) AS rank
          |  FROM nodes n LEFT JOIN c1 c ON n.domain = c.dst
          |), c2 AS (
          |  SELECT e.dst, sum(r.rank // o.out_deg) AS inc
          |  FROM e JOIN r1 r ON e.src = r.domain JOIN od o ON e.src = o.src GROUP BY e.dst
          |), r2 AS (
          |  SELECT n.domain, CAST(150000000 + (85 * coalesce(c.inc, 0)) // 100 AS BIGINT) AS rank
          |  FROM nodes n LEFT JOIN c2 c ON n.domain = c.dst
          |), c3 AS (
          |  SELECT e.dst, sum(r.rank // o.out_deg) AS inc
          |  FROM e JOIN r2 r ON e.src = r.domain JOIN od o ON e.src = o.src GROUP BY e.dst
          |), r3 AS (
          |  SELECT n.domain, CAST(150000000 + (85 * coalesce(c.inc, 0)) // 100 AS BIGINT) AS rank
          |  FROM nodes n LEFT JOIN c3 c ON n.domain = c.dst
          |), idg AS (
          |  SELECT dst, count(1) AS in_deg FROM e GROUP BY dst
          |)
          |SELECT r.domain, r.rank AS pagerank,
          |  CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
          |  CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg
          |FROM r3 r
          |LEFT JOIN od o ON r.domain = o.src
          |LEFT JOIN idg i ON r.domain = i.dst
          |ORDER BY pagerank DESC, domain""".stripMargin,

      // Same vocabulary build (top-256, count-desc/word tie-break) and
      // char-fallback encoding; the ordered reassembly uses DuckDB's
      // in-aggregate ORDER BY instead of Spark's sorted-struct form.
      "d71_vocab_encode" ->
        """WITH sp AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), words AS (
          |  SELECT doc_id, CAST(i AS BIGINT) AS wpos, toks[i] AS w
          |  FROM sp, unnest(range(1, len(toks) + 1)) AS t(i)
          |  WHERE length(toks[i]) > 0
          |), vc AS (
          |  SELECT w, count(1) AS cnt FROM words GROUP BY w
          |), vocab AS (
          |  SELECT w, CAST(row_number() OVER (ORDER BY cnt DESC, w) - 1 AS INTEGER) AS id
          |  FROM vc QUALIFY row_number() OVER (ORDER BY cnt DESC, w) <= 256
          |), enc AS (
          |  SELECT wr.doc_id, wr.wpos, v.id,
          |    CASE WHEN v.id IS NOT NULL THEN CAST(v.id AS VARCHAR)
          |      ELSE array_to_string(list_transform(range(1, length(wr.w) + 1),
          |        i -> CAST(256 + ascii(substr(wr.w, CAST(i AS INTEGER), 1)) AS VARCHAR)), '-')
          |    END AS ids_str,
          |    CASE WHEN v.id IS NOT NULL THEN 1 ELSE length(wr.w) END AS n_ids
          |  FROM words wr LEFT JOIN vocab v ON wr.w = v.w
          |)
          |SELECT doc_id, count(1) AS n_words,
          |  CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
          |  CAST(sum(n_ids) AS BIGINT) AS n_tokens,
          |  md5(string_agg(ids_str, '-' ORDER BY wpos)) AS seq_md5
          |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // integer lexical ordering + the d10 cosine formula; RRF doubles
      // are two exact IEEE ops (CAST keeps DuckDB's 1.0 literal from
      // becoming DECIMAL division)
      "d72_rrf_fusion" ->
        """WITH tk AS (
          |  SELECT doc_id, tok FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          |    FROM documents
          |  ) WHERE length(tok) > 0
          |), qt AS (
          |  SELECT DISTINCT doc_id AS query_id, tok FROM tk WHERE doc_id < 5
          |), lex AS (
          |  SELECT q.query_id, t.doc_id,
          |    count(DISTINCT t.tok) AS n_shared, count(1) AS tf_sum
          |  FROM tk t JOIN qt q ON t.tok = q.tok AND t.doc_id <> q.query_id
          |  GROUP BY 1, 2
          |), lexr AS (
          |  SELECT query_id, doc_id,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY n_shared DESC, tf_sum DESC, doc_id) AS BIGINT) AS rank_lex
          |  FROM lex
          |  QUALIFY row_number() OVER (PARTITION BY query_id
          |    ORDER BY n_shared DESC, tf_sum DESC, doc_id) <= 20
          |), e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, q,
          |    list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS nrm
          |  FROM e
          |), scored AS (
          |  SELECT qr.vec_id AS query_id, c.vec_id AS doc_id,
          |    round(CAST(list_sum(list_transform(range(1, 65), i -> qr.q[i] * c.q[i])) AS DOUBLE)
          |      / (sqrt(CAST(qr.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 6) AS cos
          |  FROM n qr JOIN n c ON c.vec_id <> qr.vec_id
          |  WHERE qr.vec_id < 5
          |), vecr AS (
          |  SELECT query_id, doc_id,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_vec
          |  FROM scored
          |  QUALIFY row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos DESC, doc_id) <= 20
          |), fused AS (
          |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
          |    coalesce(l.doc_id, v.doc_id) AS doc_id,
          |    l.rank_lex, v.rank_vec,
          |    coalesce(CAST(1 AS DOUBLE) / (60 + l.rank_lex), 0)
          |      + coalesce(CAST(1 AS DOUBLE) / (60 + v.rank_vec), 0) AS rrf
          |  FROM lexr l FULL OUTER JOIN vecr v
          |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
          |)
          |SELECT query_id,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank_fused,
          |  doc_id, rank_lex, rank_vec, rrf
          |FROM fused
          |QUALIFY row_number() OVER (PARTITION BY query_id
          |  ORDER BY rrf DESC, doc_id) <= 10
          |ORDER BY query_id, rank_fused""".stripMargin,

      // identical HTML synthesis, tag-strip ('g' = replace ALL, matching
      // Spark's regexp_replace default), and line heuristics
      "d73_html_boilerplate" ->
        """WITH h AS (
          |  SELECT doc_id,
          |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body>'
          |    || '<nav>home | about | contact</nav><p>'
          |    || substr(text, 1, CAST(length(text) // 2 AS INTEGER)) || '</p><p>'
          |    || substr(text, CAST(length(text) // 2 AS INTEGER) + 1)
          |    || '</p><footer>copyright 2024 example.org</footer></body></html>' AS html
          |  FROM documents
          |), ln AS (
          |  SELECT doc_id,
          |    list_filter(list_transform(
          |      string_split(regexp_replace(html, '<[^>]+>', chr(10), 'g'), chr(10)),
          |      l -> trim(l)),
          |      l -> length(l) >= 15 AND NOT l LIKE '%|%'
          |        AND NOT lower(l) LIKE 'copyright%') AS kept
          |  FROM h
          |)
          |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_lines_kept,
          |  CAST(length(array_to_string(kept, ' ')) AS BIGINT) AS main_chars,
          |  md5(array_to_string(kept, ' ')) AS main_md5
          |FROM ln ORDER BY doc_id""".stripMargin,

      // identical 12-token line cut, global freq ≥ 3 removal, ordered
      // reassembly (string_agg ORDER BY idx ≡ Spark's array_sort on
      // (idx, line) structs — idx is unique per doc)
      "d74_line_dedup_rewrite" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text || ' aaa' FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 2000000, text || ' bbb' FROM documents WHERE doc_id % 10 = 0
          |), tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM corpus
          |), lines AS (
          |  SELECT doc_id, i AS idx,
          |    array_to_string(list_slice(t, i * 12 + 1, i * 12 + 12), ' ') AS line
          |  FROM tk, unnest(range(0, CAST(ceil(len(t) / 12.0) AS INT))) AS u(i)
          |), fr AS (
          |  SELECT doc_id, idx, line,
          |    count(1) OVER (PARTITION BY md5(line)) AS freq
          |  FROM lines
          |)
          |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_lines,
          |  CAST(count(CASE WHEN freq >= 3 THEN 1 END) AS BIGINT) AS n_removed,
          |  md5(coalesce(string_agg(CASE WHEN freq < 3 THEN line END, ' ' ORDER BY idx), '')) AS clean_md5
          |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // the 3 perceptron passes unrolled as CTEs — all-integer margins
      // and updates, so weights are exact in any summation order
      "d75_perceptron_train" ->
        """WITH tk AS (
          |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
          |), f AS (
          |  SELECT CASE WHEN len(t) >= 60 THEN 1 ELSE -1 END AS y,
          |    CAST(1 AS BIGINT) AS b, CAST(len(t) AS BIGINT) AS x1,
          |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','that'))) AS BIGINT) AS x2,
          |    CAST(len(list_distinct(t)) AS BIGINT) AS x3
          |  FROM tk
          |), nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM f),
          |p1 AS (
          |  SELECT CAST(sum(y*b) AS BIGINT) AS db, CAST(sum(y*x1) AS BIGINT) AS d1,
          |    CAST(sum(y*x2) AS BIGINT) AS d2, CAST(sum(y*x3) AS BIGINT) AS d3,
          |    CAST(count(1) AS BIGINT) AS m
          |  FROM f
          |), v1 AS (SELECT db AS wb, d1 AS w1, d2 AS w2, d3 AS w3, m FROM p1),
          |p2 AS (
          |  SELECT
          |    CAST(sum(CASE WHEN f.y*(v1.wb*f.b + v1.w1*f.x1 + v1.w2*f.x2 + v1.w3*f.x3) <= 0 THEN f.y*f.b ELSE 0 END) AS BIGINT) AS db,
          |    CAST(sum(CASE WHEN f.y*(v1.wb*f.b + v1.w1*f.x1 + v1.w2*f.x2 + v1.w3*f.x3) <= 0 THEN f.y*f.x1 ELSE 0 END) AS BIGINT) AS d1,
          |    CAST(sum(CASE WHEN f.y*(v1.wb*f.b + v1.w1*f.x1 + v1.w2*f.x2 + v1.w3*f.x3) <= 0 THEN f.y*f.x2 ELSE 0 END) AS BIGINT) AS d2,
          |    CAST(sum(CASE WHEN f.y*(v1.wb*f.b + v1.w1*f.x1 + v1.w2*f.x2 + v1.w3*f.x3) <= 0 THEN f.y*f.x3 ELSE 0 END) AS BIGINT) AS d3,
          |    CAST(sum(CASE WHEN f.y*(v1.wb*f.b + v1.w1*f.x1 + v1.w2*f.x2 + v1.w3*f.x3) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS m
          |  FROM f, v1
          |), v2 AS (
          |  SELECT v1.wb + p2.db AS wb, v1.w1 + p2.d1 AS w1, v1.w2 + p2.d2 AS w2,
          |    v1.w3 + p2.d3 AS w3, p2.m FROM v1, p2
          |), p3 AS (
          |  SELECT
          |    CAST(sum(CASE WHEN f.y*(v2.wb*f.b + v2.w1*f.x1 + v2.w2*f.x2 + v2.w3*f.x3) <= 0 THEN f.y*f.b ELSE 0 END) AS BIGINT) AS db,
          |    CAST(sum(CASE WHEN f.y*(v2.wb*f.b + v2.w1*f.x1 + v2.w2*f.x2 + v2.w3*f.x3) <= 0 THEN f.y*f.x1 ELSE 0 END) AS BIGINT) AS d1,
          |    CAST(sum(CASE WHEN f.y*(v2.wb*f.b + v2.w1*f.x1 + v2.w2*f.x2 + v2.w3*f.x3) <= 0 THEN f.y*f.x2 ELSE 0 END) AS BIGINT) AS d2,
          |    CAST(sum(CASE WHEN f.y*(v2.wb*f.b + v2.w1*f.x1 + v2.w2*f.x2 + v2.w3*f.x3) <= 0 THEN f.y*f.x3 ELSE 0 END) AS BIGINT) AS d3,
          |    CAST(sum(CASE WHEN f.y*(v2.wb*f.b + v2.w1*f.x1 + v2.w2*f.x2 + v2.w3*f.x3) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS m
          |  FROM f, v2
          |), v3 AS (
          |  SELECT v2.wb + p3.db AS wb, v2.w1 + p3.d1 AS w1, v2.w2 + p3.d2 AS w2,
          |    v2.w3 + p3.d3 AS w3, p3.m FROM v2, p3
          |)
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS iter, v1.wb AS w_bias, v1.w1 AS w_words,
          |    v1.w2 AS w_stop, v1.w3 AS w_uniq, v1.m AS n_mistakes,
          |    CAST(nn.n - v1.m AS DOUBLE) / nn.n AS train_acc FROM v1, nn
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), v2.wb, v2.w1, v2.w2, v2.w3, v2.m,
          |    CAST(nn.n - v2.m AS DOUBLE) / nn.n FROM v2, nn
          |  UNION ALL
          |  SELECT CAST(3 AS BIGINT), v3.wb, v3.w1, v3.w2, v3.w3, v3.m,
          |    CAST(nn.n - v3.m AS DOUBLE) / nn.n FROM v3, nn
          |) ORDER BY iter""".stripMargin,

      "d78_domain_quota" ->
        """WITH dom AS (
          |  SELECT doc_id, n_chars,
          |    'site' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS domain
          |  FROM documents
          |), ranked AS (
          |  SELECT domain, doc_id,
          |    row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM dom
          |)
          |SELECT domain, CAST(count(1) AS BIGINT) AS n_docs,
          |  CAST(count(CASE WHEN rk <= 5 THEN 1 END) AS BIGINT) AS n_kept,
          |  CAST(count(CASE WHEN rk > 5 THEN 1 END) AS BIGINT) AS n_dropped,
          |  md5(string_agg(CASE WHEN rk <= 5 THEN CAST(doc_id AS VARCHAR) END, ','
          |    ORDER BY CAST(doc_id AS VARCHAR))) AS kept_md5
          |FROM ranked GROUP BY domain ORDER BY domain""".stripMargin,

      "d79_vocab_coverage" ->
        """WITH tok AS (
          |  SELECT t AS tok FROM (
          |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t FROM documents
          |  ) WHERE length(t) > 0
          |), counts AS (
          |  SELECT tok, CAST(count(1) AS BIGINT) AS freq FROM tok GROUP BY tok
          |), ranked AS (
          |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank,
          |    CAST(sum(freq) OVER (ORDER BY freq DESC, tok
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM counts
          |), tot AS (SELECT CAST(max(cum) AS BIGINT) AS total FROM ranked),
          |thr AS (SELECT unnest([50, 90, 95, 99]) AS pct)
          |SELECT CAST(pct AS BIGINT) AS pct,
          |  CAST(min(rank) AS BIGINT) AS vocab_size,
          |  CAST(min(cum) AS BIGINT) AS covered_tokens,
          |  CAST(max(total) AS BIGINT) AS total_tokens
          |FROM ranked, tot, thr
          |WHERE cum * 100 >= total * pct
          |GROUP BY pct ORDER BY pct""".stripMargin,

      "d77_snapshot_manifest_diff" ->
        """WITH prev AS (
          |  SELECT doc_id, md5(text) AS h_prev FROM documents WHERE doc_id % 13 <> 0
          |), cur AS (
          |  SELECT doc_id, source,
          |    md5(CASE WHEN doc_id % 17 = 0 THEN text || ' upd' ELSE text END) AS h_cur,
          |    CAST(len(string_split(
          |      CASE WHEN doc_id % 17 = 0 THEN text || ' upd' ELSE text END, ' ')) AS BIGINT) AS n_toks
          |  FROM documents WHERE doc_id % 19 <> 0
          |), j AS (
          |  SELECT coalesce(cur.source, '?') AS source, cur.h_cur, prev.h_prev, cur.n_toks
          |  FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
          |)
          |SELECT source,
          |  CAST(count(h_cur) AS BIGINT) AS n_docs,
          |  CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(sum(CASE WHEN h_cur IS NOT NULL
          |    THEN ('0x' || substring(h_cur, 1, 15))::BIGINT % 1000000007 END), 0) AS BIGINT)
          |    AS manifest_hash,
          |  CAST(count(CASE WHEN h_prev IS NULL AND h_cur IS NOT NULL THEN 1 END) AS BIGINT) AS n_added,
          |  CAST(count(CASE WHEN h_cur IS NULL THEN 1 END) AS BIGINT) AS n_removed,
          |  CAST(count(CASE WHEN h_prev IS NOT NULL AND h_cur IS NOT NULL
          |    AND h_prev <> h_cur THEN 1 END) AS BIGINT) AS n_changed
          |FROM j GROUP BY source ORDER BY source""".stripMargin,

      "d76_k_anonymity" ->
        """WITH cells AS (
          |  SELECT lang, source, n_chars // 100 AS len_bucket,
          |    CAST(count(1) AS BIGINT) AS n_docs
          |  FROM documents GROUP BY 1, 2, 3
          |)
          |SELECT lang, source, len_bucket, n_docs FROM cells WHERE n_docs >= 5
          |UNION ALL
          |SELECT '*', '*', CAST(-1 AS BIGINT),
          |  CAST(coalesce(sum(n_docs), 0) AS BIGINT) FROM cells WHERE n_docs < 5
          |ORDER BY lang, source, len_bucket""".stripMargin,

      "d85_bigram_pmi" ->
        """WITH tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), uni AS (
          |  SELECT t.w, CAST(count(*) AS BIGINT) AS f
          |  FROM (SELECT unnest(toks) AS w FROM tk) t GROUP BY 1
          |), bi AS (
          |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS f_ab FROM (
          |    SELECT toks[i] AS a, toks[i+1] AS b
          |    FROM tk, unnest(range(1, len(toks))) AS r(i)
          |  ) p GROUP BY 1, 2 HAVING count(*) >= 3
          |), n AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM uni)
          |SELECT a, b, f_ab, ua.f AS f_a, ub.f AS f_b,
          |  (f_ab * n * 1000000) // (ua.f * ub.f) AS pmi_score
          |FROM bi JOIN uni ua ON bi.a = ua.w JOIN uni ub ON bi.b = ub.w, n
          |ORDER BY pmi_score DESC, a, b LIMIT 20""".stripMargin,

      "d84_token_drift" -> (planted +
        """
          |, ta AS (
          |  SELECT t.term, count(*) AS fa FROM (
          |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |    FROM documents) t
          |  WHERE t.term != '' GROUP BY 1
          |), tb AS (
          |  SELECT t.term, count(*) AS fb FROM (
          |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |    FROM corpus) t
          |  WHERE t.term != '' GROUP BY 1
          |), na AS (SELECT CAST(sum(fa) AS BIGINT) AS na FROM ta),
          |nb AS (SELECT CAST(sum(fb) AS BIGINT) AS nb FROM tb)
          |SELECT coalesce(ta.term, tb.term) AS term,
          |  CAST(coalesce(fa, 0) AS BIGINT) AS fa,
          |  CAST(coalesce(fb, 0) AS BIGINT) AS fb,
          |  abs(CAST(coalesce(fa, 0) AS BIGINT) * nb
          |    - CAST(coalesce(fb, 0) AS BIGINT) * na) AS drift
          |FROM ta FULL OUTER JOIN tb ON ta.term = tb.term, na, nb
          |ORDER BY drift DESC, term LIMIT 20""".stripMargin),

      "d83_source_length_quantiles" ->
        """WITH ranked AS (
          |  SELECT source, n_chars, doc_id,
          |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
          |    count(1) OVER (PARTITION BY source) AS n
          |  FROM documents
          |)
          |SELECT source, pct, n_chars AS chars_at_pct, CAST(n AS BIGINT) AS n
          |FROM ranked, unnest([10, 50, 90]) AS t(pct)
          |WHERE rn = (n * pct + 99) // 100
          |ORDER BY source, pct""".stripMargin,

      "d82_filter_ablation_matrix" ->
        """WITH j AS (
          |  SELECT n_chars, len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
          |    CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1 ELSE 0 END AS len_ok,
          |    CASE WHEN contains(text, ' the ') OR contains(text, ' and ')
          |      OR contains(text, ' of ') THEN 1 ELSE 0 END AS stop_ok
          |  FROM documents
          |)
          |SELECT len_ok,
          |  CASE WHEN n_words >= 20 AND n_chars >= n_words * 3
          |    AND n_chars <= n_words * 10 THEN 1 ELSE 0 END AS word_ok,
          |  stop_ok, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM j GROUP BY 1, 2, 3 ORDER BY len_ok, word_ok, stop_ok""".stripMargin,

      // cross-corpus replay of the d07 MinHash chain: eval = base docs
      // with doc_id % 50 = 0, train = everything else incl. plants;
      // agreement is an integer component count
      "d81_fuzzy_decontamination" -> (planted +
        """
          |, sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus)
          |  WHERE len(toks) >= 3
          |), mh AS (
          |  SELECT doc_id,
          |    list_transform(range(0, 32),
          |      j -> list_min(list_transform(shingles,
          |        s -> ((('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647)
          |              * (1103515245 + 12345*j) + j * 987654321) % 2147483647))) AS mh
          |  FROM sh
          |), bench AS (
          |  SELECT doc_id AS bench_id, mh AS mhb FROM mh
          |  WHERE doc_id % 50 = 0 AND doc_id < 1000000
          |), train AS (
          |  SELECT doc_id, mh FROM mh
          |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)
          |), tband AS (
          |  SELECT doc_id, b,
          |    ('0x' || substring(md5(array_to_string(mh[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
          |  FROM train, unnest(range(0, 8)) AS t(b)
          |), bband AS (
          |  SELECT bench_id, b,
          |    ('0x' || substring(md5(array_to_string(mhb[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
          |  FROM bench, unnest(range(0, 8)) AS t(b)
          |), cands AS (
          |  SELECT DISTINCT x.doc_id, y.bench_id
          |  FROM tband x JOIN bband y ON x.b = y.b AND x.bh = y.bh
          |)
          |SELECT c.doc_id, c.bench_id,
          |  CAST(list_sum(list_transform(range(1, 33),
          |    i -> CASE WHEN t.mh[i] = e.mhb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
          |FROM cands c
          |JOIN train t ON t.doc_id = c.doc_id
          |JOIN bench e ON e.bench_id = c.bench_id
          |WHERE list_sum(list_transform(range(1, 33),
          |    i -> CASE WHEN t.mh[i] = e.mhb[i] THEN 1 ELSE 0 END)) * 2 >= 32
          |ORDER BY c.doc_id, c.bench_id""".stripMargin),

      // integer-exact surprisal: bits(c) = length(bin(c)) = ⌊log2 c⌋+1
      // in both engines, so no ln() cross-engine drift anywhere
      "d96_accent_fold_dedup" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 7000000, text || ' cafe resume naive'
          |  FROM documents WHERE doc_id % 13 = 0
          |  UNION ALL
          |  SELECT doc_id + 8000000, text || ' café résumé naïve'
          |  FROM documents WHERE doc_id % 13 = 0
          |), folded AS (
          |  SELECT doc_id, lower(strip_accents(text)) AS folded FROM corpus
          |)
          |SELECT md5(folded) AS fold_hash, CAST(count(1) AS BIGINT) AS n_variants,
          |  min(doc_id) AS keep_id, CAST(max(length(folded)) AS INT) AS n_chars
          |FROM folded
          |GROUP BY 1 HAVING count(1) > 1 ORDER BY fold_hash""".stripMargin,

      // exact rank values + pinned-TRUE tolerance (the estimate is
      // deterministic run-to-run; the bracket bound is checked Spark-side)
      "d95_approx_quantiles" ->
        """WITH ranked AS (
          |  SELECT source, n_chars,
          |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn
          |  FROM documents
          |), counts AS (
          |  SELECT source, CAST(count(1) AS BIGINT) AS n FROM documents GROUP BY 1
          |), spec AS (
          |  SELECT source, n, CAST(p AS INT) AS p,
          |    CAST(ceil(n * p / 100.0) AS INT) AS r
          |  FROM counts, (SELECT unnest([50, 95]) AS p)
          |)
          |SELECT s.source, s.p,
          |  max(CASE WHEN rn = r THEN n_chars END) AS exact,
          |  TRUE AS within_tol
          |FROM spec s JOIN ranked ON s.source = ranked.source
          |WHERE rn = r
          |GROUP BY 1, 2 ORDER BY s.source, s.p""".stripMargin,

      "d94_observed_filter_rates" ->
        """SELECT CAST(count(1) AS BIGINT) AS n_total,
          |  CAST(sum(CASE WHEN n_chars >= 200 AND lang IN ('en','de','fr')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
          |  CAST(sum(CASE WHEN n_chars >= 200 AND lang IN ('en','de','fr')
          |    THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
          |  CAST(sum(n_chars) AS BIGINT) AS chars_total
          |FROM documents""".stripMargin,

      "d93_skew_salted_join" ->
        """WITH fact AS (
          |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0 ELSE l_partkey % 50 END AS key,
          |    l_quantity
          |  FROM lineitem
          |), dim AS (
          |  SELECT i AS key, i * 7 + 3 AS weight
          |  FROM (SELECT unnest(range(0, 50)) AS i)
          |)
          |SELECT f.key, count(1) AS n_rows,
          |  CAST(sum(d.weight * CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS weighted_qty
          |FROM fact f JOIN dim d ON f.key = d.key
          |GROUP BY 1 ORDER BY f.key""".stripMargin,

      "d92_selection_rehydrate" ->
        """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
          |FROM documents
          |WHERE substring(md5(text), 1, 1) IN ('0', '1', '2', '3')
          |  AND n_chars >= 100
          |ORDER BY doc_id""".stripMargin,

      "d91_hard_negatives" ->
        """WITH e AS (
          |  SELECT vec_id, label,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, label, q,
          |    list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS nrm
          |  FROM e
          |), scored AS (
          |  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
          |    round(CAST(list_sum(list_transform(range(1, 65), i -> qr.q[i] * c.q[i])) AS DOUBLE)
          |      / (sqrt(CAST(qr.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 6) AS cos
          |  FROM n qr JOIN n c ON c.vec_id <> qr.vec_id AND c.label <> qr.label
          |  WHERE qr.vec_id < 10
          |), ranked AS (
          |  SELECT query_id, neighbor_id, label, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM scored
          |)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, label, cos
          |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      "d90_zipf_rank_curve" ->
        """WITH tf AS (
          |  SELECT t.term, CAST(count(*) AS BIGINT) AS f FROM (
          |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |    FROM documents) t
          |  WHERE t.term != '' GROUP BY 1
          |), ranked AS (
          |  SELECT term, f,
          |    CAST(row_number() OVER (ORDER BY f DESC, term) AS INT) AS rank
          |  FROM tf
          |), n AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM tf)
          |SELECT rank, term, f, rank * f AS rank_freq,
          |  CAST(sum(f) OVER (ORDER BY rank) AS BIGINT) * 1000 // n.n
          |    AS cum_share_permille
          |FROM ranked, n WHERE rank <= 100
          |ORDER BY rank""".stripMargin,

      "d86_bigram_surprisal_filter" ->
        """WITH tk AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |  FROM documents
          |), pr AS (
          |  SELECT doc_id, toks[i] AS a, toks[i+1] AS b
          |  FROM tk, unnest(range(1, len(toks))) AS r(i)
          |  WHERE toks[i] != '' AND toks[i+1] != ''
          |), tfb AS (
          |  SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS tf
          |  FROM pr GROUP BY 1, 2, 3
          |), bi AS (
          |  SELECT a, b, CAST(sum(tf) AS BIGINT) AS f_ab FROM tfb GROUP BY 1, 2
          |), uni AS (
          |  SELECT a, CAST(sum(tf) AS BIGINT) AS f_a FROM tfb GROUP BY 1
          |), sc AS (
          |  SELECT tfb.doc_id, tfb.tf,
          |    CAST(length(bin(f_a)) - length(bin(f_ab)) AS BIGINT) AS sbits
          |  FROM tfb JOIN bi USING (a, b) JOIN uni USING (a)
          |), per_doc AS (
          |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
          |    CAST(sum(tf * sbits) AS BIGINT) AS sum_bits
          |  FROM sc GROUP BY 1
          |)
          |SELECT doc_id, n_bigrams, sum_bits,
          |  sum_bits * 1000 // n_bigrams AS mean_bits_permille
          |FROM per_doc
          |ORDER BY mean_bits_permille DESC, doc_id LIMIT 50""".stripMargin,

      "d87_epoch_shard_shuffle" ->
        """WITH base AS (
          |  SELECT doc_id, e.epoch,
          |    (doc_id * 2654435761 + e.epoch * 40503) % 4294967296 AS pos
          |  FROM documents,
          |    (SELECT CAST(unnest(range(0, 3)) AS INT) AS epoch) e
          |), ranked AS (
          |  SELECT epoch, pos % 8 AS shard,
          |    row_number() OVER (PARTITION BY epoch, pos % 8 ORDER BY pos, doc_id) AS rn,
          |    doc_id, pos,
          |    count(*) OVER (PARTITION BY epoch, pos % 8) AS shard_size
          |  FROM base
          |)
          |SELECT epoch, shard, CAST(rn AS INT) AS rn, doc_id, pos, shard_size
          |FROM ranked WHERE rn <= 5
          |ORDER BY epoch, shard, rn""".stripMargin,

      "d88_url_canonicalize" ->
        """WITH raw AS (
          |  SELECT doc_id,
          |    'HTTPS://WWW.' || upper(source) || '.Example.COM/cat-' ||
          |    CAST(doc_id % 7 AS VARCHAR) || '/page?sess=' ||
          |    CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&ref=' || lang ||
          |    CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
          |  FROM documents
          |), canon AS (
          |  SELECT doc_id,
          |    regexp_replace(lower(regexp_extract(u2, '^([^/]+//[^/]+)', 1)),
          |      '://www\.', '://') ||
          |    regexp_replace(u2, '^[^/]+//[^/]+', '') AS canonical
          |  FROM (
          |    SELECT doc_id,
          |      regexp_replace(regexp_replace(url, '#.*$', ''),
          |        '&(utm_[a-z]+|ref)=[^&#]*', '', 'g') AS u2
          |    FROM raw)
          |)
          |SELECT regexp_extract(canonical, '^https://([^/]+)', 1) AS site,
          |  count(*) AS n_docs,
          |  CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical_urls,
          |  min(doc_id) AS min_doc_id
          |FROM canon
          |GROUP BY 1 ORDER BY site""".stripMargin,

      "d80_unigram_surprisal_filter" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |  FROM documents
          |), tf AS (
          |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY 1, 2
          |), counts AS (
          |  SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
          |), bits AS (
          |  SELECT term, CAST(length(bin(c)) AS BIGINT) AS bits FROM counts
          |), per_doc AS (
          |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
          |    CAST(sum(tf * bits) AS BIGINT) AS sum_bits
          |  FROM tf JOIN bits USING (term) GROUP BY 1
          |), corpus AS (
          |  SELECT CAST(sum(sum_bits) AS BIGINT) * 1000 // CAST(sum(n_tok) AS BIGINT)
          |    AS corpus_permille FROM per_doc
          |)
          |SELECT doc_id, n_tok, sum_bits, sum_bits * 1000 // n_tok AS mean_bits_permille,
          |  corpus_permille
          |FROM per_doc, corpus
          |ORDER BY mean_bits_permille, doc_id LIMIT 50""".stripMargin,

      // The multi-probe half-key scheme is exact for hamming ≤ 3, so the
      // oracle is simply brute-force all-pairs hamming over recomputed
      // simhashes (md5-derived token hashes; bits 60–63 are zero in both
      // engines).
      "d09_dedup_simhash" -> (planted +
        """
          |, tk AS (
          |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
          |  FROM corpus
          |), tkf AS (
          |  SELECT doc_id, list_transform(toks, t -> ('0x' || substring(md5(t), 1, 15))::BIGINT) AS hs
          |  FROM tk WHERE len(toks) >= 3
          |), sim AS (
          |  SELECT doc_id,
          |    CAST(list_sum(list_transform(range(0, 60),
          |      j -> CASE WHEN list_sum(list_transform(hs,
          |             h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
          |           THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS sim
          |  FROM tkf
          |)
          |SELECT x.doc_id AS a, y.doc_id AS b,
          |  CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
          |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
          |WHERE bit_count(xor(x.sim, y.sim)) <= 3
          |ORDER BY a, b""".stripMargin),

      // SRP signatures are deterministic integer math — recompute them
      // exactly (same pseudo-weights) and replicate the bucket join.
      "d11_dedup_embedding_lsh" ->
        """WITH ep AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
          |), e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM ep
          |), n AS (
          |  SELECT vec_id, q,
          |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), sg AS (
          |  SELECT vec_id, q, nrm,
          |    CAST(list_sum(list_transform(range(0, 16),
          |      p -> CASE WHEN list_sum(list_transform(range(1, 65),
          |             i -> q[i] * (((p*131 + (i-1)*37) % 7) - 3))) > 0
          |           THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT) AS sig
          |  FROM n
          |)
          |SELECT x.vec_id AS a, y.vec_id AS b,
          |  round(CAST(list_sum(list_transform(range(1, 65), i -> x.q[i] * y.q[i])) AS DOUBLE)
          |    / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))), 6) AS cos
          |FROM sg x JOIN sg y ON x.sig = y.sig AND x.vec_id < y.vec_id
          |WHERE round(CAST(list_sum(list_transform(range(1, 65), i -> x.q[i] * y.q[i])) AS DOUBLE)
          |    / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))), 6) >= 0.95
          |ORDER BY a, b""".stripMargin,

      // IVF is pure exact-int math end-to-end: centroid assignment,
      // 2-probe search, cosine top-3 — replicated verbatim.
      // same planted input, same patterns (Java∩RE2 subset), same
      // replacement order; counts on the original text
      "d146_pii_redaction" ->
        """WITH planted AS (
          |  SELECT doc_id,
          |    text || ' contact u' || CAST(doc_id AS VARCHAR)
          |      || '@ex.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
          |      || '.77 tel +1-555-000' || CAST(doc_id AS VARCHAR)
          |      || ' acct 4111111111111111' AS text
          |  FROM documents WHERE doc_id < 300
          |)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
          |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
          |  CAST(len(regexp_extract_all(text, '\+\d[\d-]{7,14}\d')) AS INT) AS n_phone,
          |  CAST(len(regexp_extract_all(text, '\b\d{13,16}\b')) AS INT) AS n_num,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
          |      '\+\d[\d-]{7,14}\d', '[PHONE]', 'g'),
          |    '\b\d{13,16}\b', '[NUM]', 'g') AS redacted
          |FROM planted ORDER BY doc_id""".stripMargin,

      // the full SemDeDup rule restated: quantize, argmin-assign to the
      // 8 centroid cells, pair lower-id vectors within a cell, suppress
      // at rounded cosine >= 0.995, keep-first representative
      "d145_semantic_dedup" ->
        """WITH base AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
          |), e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM base
          |), n AS (
          |  SELECT vec_id, q,
          |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), cents AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM n WHERE vec_id < 8
          |), assigned AS (
          |  SELECT vec_id, cent_id, q, nrm FROM (
          |    SELECT v.vec_id, c.cent_id, v.q, v.nrm,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM n v CROSS JOIN cents c
          |  ) WHERE rn = 1
          |), sup AS (
          |  SELECT a.vec_id, MIN(b.vec_id) AS near_id
          |  FROM assigned a JOIN assigned b
          |    ON a.cent_id = b.cent_id AND b.vec_id < a.vec_id
          |  WHERE round(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
          |        / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))), 6) >= 0.995
          |  GROUP BY a.vec_id
          |)
          |SELECT a.vec_id, CAST(a.cent_id AS BIGINT) AS cent_id,
          |  (s.near_id IS NULL) AS kept, s.near_id
          |FROM assigned a LEFT JOIN sup s ON a.vec_id = s.vec_id
          |ORDER BY a.vec_id""".stripMargin,

      "d12_ann_ivf" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, q,
          |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), cents AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM n WHERE vec_id < 16
          |), assigned AS (
          |  SELECT vec_id, cent_id, q, nrm FROM (
          |    SELECT v.vec_id, c.cent_id, v.q, v.nrm,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM n v CROSS JOIN cents c
          |  ) WHERE rn = 1
          |), probes AS (
          |  SELECT query_id, qq, qnrm, cent_id FROM (
          |    SELECT v.vec_id AS query_id, v.q AS qq, v.nrm AS qnrm, c.cent_id,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM n v CROSS JOIN cents c
          |    WHERE v.vec_id >= 100 AND v.vec_id < 110
          |  ) WHERE rn <= 2
          |), scored AS (
          |  SELECT p.query_id, a.vec_id,
          |    round(CAST(list_sum(list_transform(range(1, 65), i -> p.qq[i] * a.q[i])) AS DOUBLE)
          |      / (sqrt(CAST(p.qnrm AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))), 6) AS cos
          |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
          |  WHERE a.vec_id <> p.query_id
          |), ranked AS (
          |  SELECT query_id, vec_id, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored
          |)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, cos
          |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

      // recall@3 of the d12 IVF search against brute-force ground
      // truth — both sides replicated verbatim (exact-int cosine).
      "d34_ann_recall" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, q,
          |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), cents AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM n WHERE vec_id < 16
          |), assigned AS (
          |  SELECT vec_id, cent_id, q, nrm FROM (
          |    SELECT v.vec_id, c.cent_id, v.q, v.nrm,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM n v CROSS JOIN cents c
          |  ) WHERE rn = 1
          |), probes AS (
          |  SELECT query_id, qq, qnrm, cent_id FROM (
          |    SELECT v.vec_id AS query_id, v.q AS qq, v.nrm AS qnrm, c.cent_id,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM n v CROSS JOIN cents c
          |    WHERE v.vec_id >= 100 AND v.vec_id < 110
          |  ) WHERE rn <= 2
          |), ivf AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT p.query_id, a.vec_id,
          |      row_number() OVER (PARTITION BY p.query_id ORDER BY
          |        round(CAST(list_sum(list_transform(range(1, 65), i -> p.qq[i] * a.q[i])) AS DOUBLE)
          |          / (sqrt(CAST(p.qnrm AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))), 6) DESC,
          |        a.vec_id) AS rank
          |    FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
          |    WHERE a.vec_id <> p.query_id
          |  ) WHERE rank <= 3
          |), bf AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT qv.vec_id AS query_id, v.vec_id,
          |      row_number() OVER (PARTITION BY qv.vec_id ORDER BY
          |        round(CAST(list_sum(list_transform(range(1, 65), i -> qv.q[i] * v.q[i])) AS DOUBLE)
          |          / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))), 6) DESC,
          |        v.vec_id) AS rank
          |    FROM n qv JOIN n v ON v.vec_id <> qv.vec_id
          |    WHERE qv.vec_id >= 100 AND qv.vec_id < 110
          |  ) WHERE rank <= 3
          |), hits AS (
          |  SELECT query_id, count(1) AS n_hits
          |  FROM ivf JOIN bf USING (query_id, vec_id) GROUP BY query_id
          |)
          |SELECT q.vec_id AS query_id,
          |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
          |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0 AS recall_at_3
          |FROM n q LEFT JOIN hits h ON h.query_id = q.vec_id
          |WHERE q.vec_id >= 100 AND q.vec_id < 110
          |ORDER BY query_id""".stripMargin,

      // within-cell pair join replicated after the same centroid
      // assignment as d12, over the planted (exact-copy) corpus.
      "d36_semdedup" ->
        """WITH ep AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
          |), e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM ep
          |), n AS (
          |  SELECT vec_id, q,
          |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS nrm
          |  FROM e
          |), cents AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM n WHERE vec_id < 16
          |), assigned AS (
          |  SELECT vec_id, cent_id, q, nrm FROM (
          |    SELECT v.vec_id, c.cent_id, v.q, v.nrm,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM n v CROSS JOIN cents c
          |  ) WHERE rn = 1
          |)
          |SELECT x.cent_id, x.vec_id AS a, y.vec_id AS b,
          |  round(CAST(list_sum(list_transform(range(1, 65), i -> x.q[i] * y.q[i])) AS DOUBLE)
          |    / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))), 6) AS cos
          |FROM assigned x JOIN assigned y ON y.cent_id = x.cent_id AND x.vec_id < y.vec_id
          |WHERE round(CAST(list_sum(list_transform(range(1, 65), i -> x.q[i] * y.q[i])) AS DOUBLE)
          |    / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))), 6) >= 0.98
          |ORDER BY a, b""".stripMargin,

      "d24_tfidf_terms" ->
        """WITH tf AS (
          |  SELECT doc_id, term, count(1) AS tf
          |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          |        FROM documents)
          |  GROUP BY doc_id, term
          |), dfreq AS (
          |  SELECT term, count(1) AS df FROM tf GROUP BY term
          |), ranked AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
          |    row_number() OVER (PARTITION BY tf.doc_id
          |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS rank
          |  FROM tf JOIN dfreq USING (term)
          |)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df
          |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

      "d25_kmeans_refine" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), c0 AS (
          |  SELECT vec_id AS cent_id, q AS cq FROM e WHERE vec_id < 16
          |), a1 AS (
          |  SELECT vec_id, cent_id, q, dist FROM (
          |    SELECT v.vec_id, c.cent_id, v.q,
          |      list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS dist,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM e v CROSS JOIN c0 c
          |  ) WHERE rn = 1
          |), c1 AS (
          |  SELECT cent_id, list(mv ORDER BY pos) AS cq FROM (
          |    SELECT cent_id, pos,
          |      CAST(floor(CAST(sum(q[pos]) AS DOUBLE) / count(1) + 0.5) AS BIGINT) AS mv
          |    FROM a1, unnest(range(1, 65)) AS t(pos)
          |    GROUP BY cent_id, pos
          |  ) GROUP BY cent_id
          |), a2 AS (
          |  SELECT vec_id, cent_id, q, dist FROM (
          |    SELECT v.vec_id, c.cent_id, v.q,
          |      list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS dist,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM e v CROSS JOIN c1 c
          |  ) WHERE rn = 1
          |), c2 AS (
          |  SELECT cent_id, list(mv ORDER BY pos) AS cq FROM (
          |    SELECT cent_id, pos,
          |      CAST(floor(CAST(sum(q[pos]) AS DOUBLE) / count(1) + 0.5) AS BIGINT) AS mv
          |    FROM a2, unnest(range(1, 65)) AS t(pos)
          |    GROUP BY cent_id, pos
          |  ) GROUP BY cent_id
          |), af AS (
          |  SELECT vec_id, cent_id, dist FROM (
          |    SELECT v.vec_id, c.cent_id,
          |      list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS dist,
          |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))),
          |        c.cent_id) AS rn
          |    FROM e v CROSS JOIN c2 c
          |  ) WHERE rn = 1
          |)
          |SELECT cent_id, count(1) AS n_members, CAST(sum(dist) AS BIGINT) AS inertia
          |FROM af GROUP BY cent_id ORDER BY cent_id""".stripMargin,

      "d13_ann_topk_aggregator" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, q,
          |    list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS nrm
          |  FROM e
          |), scored AS (
          |  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    round(CAST(list_sum(list_transform(range(1, 65), i -> qr.q[i] * c.q[i])) AS DOUBLE)
          |      / (sqrt(CAST(qr.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 6) AS cos
          |  FROM n qr JOIN n c ON c.vec_id <> qr.vec_id
          |  WHERE qr.vec_id < 10
          |), ranked AS (
          |  SELECT query_id, neighbor_id, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM scored
          |)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos
          |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // sketch queries: exact aggregates hash-checked; the accuracy
      // booleans are pinned TRUE here — they depend on the Spark-side
      // sketch values, so a regression there flips the hash.
      "d14_approx_sketches" ->
        """SELECT o_orderstatus,
          |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
          |  CAST(count(1) AS BIGINT) AS n_rows,
          |  TRUE AS approx_within_5pct,
          |  TRUE AS p50_in_band,
          |  TRUE AS p99_in_band
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "d15_hll_sketch" ->
        """SELECT o_orderstatus,
          |  TRUE AS hll_within_5pct,
          |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
          |  CAST(count(1) AS BIGINT) AS n_rows
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "d18_contamination" ->
        """WITH sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
          |  WHERE len(toks) >= 3
          |)
          |SELECT c.doc_id, b.doc_id AS bench_id,
          |  CAST(len(list_intersect(c.shingles, b.shingles)) AS BIGINT) AS shared,
          |  round(CAST(len(list_intersect(c.shingles, b.shingles)) AS DOUBLE)
          |    / len(c.shingles), 6) AS overlap
          |FROM sh c JOIN sh b ON b.doc_id % 50 = 0 AND c.doc_id % 50 <> 0
          |WHERE CAST(len(list_intersect(c.shingles, b.shingles)) AS DOUBLE)
          |    / len(c.shingles) >= 0.1
          |ORDER BY c.doc_id, b.doc_id""".stripMargin,

      "d19_hash_sample" ->
        """SELECT lang, count(1) AS n_sampled,
          |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
          |FROM documents
          |WHERE substr(md5(text), 1, 1) IN ('0', '1', '2')
          |GROUP BY lang ORDER BY lang""".stripMargin,

      "d20_repetition_score" ->
        """WITH g AS (
          |  SELECT doc_id,
          |    list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
          |  WHERE len(toks) >= 3
          |)
          |SELECT doc_id,
          |  CAST(len(grams) AS BIGINT) AS n_grams,
          |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
          |  round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS rep_ratio
          |FROM g ORDER BY doc_id""".stripMargin,

      "d27_corpus_funnel" ->
        """WITH q AS (
          |  SELECT doc_id, text,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
          |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          |  FROM documents
          |), flags AS (
          |  SELECT doc_id,
          |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
          |      + 0.3 * (CAST(len(list_filter(toks,
          |          t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(toks))
          |      + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          |          / length(text)) AS quality,
          |    row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) = 1 AS dedup_keep
          |  FROM q
          |), sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM q WHERE len(toks) >= 3
          |), benchset AS (
          |  SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE doc_id % 50 = 0
          |), contaminated AS (
          |  SELECT c.doc_id
          |  FROM (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh
          |        FROM sh WHERE doc_id % 50 <> 0) c
          |  JOIN benchset USING (sh)
          |  GROUP BY c.doc_id, c.n_sh
          |  HAVING CAST(count(1) AS DOUBLE) / n_sh >= 0.1
          |), f AS (
          |  SELECT flags.*, contaminated.doc_id IS NOT NULL AS contaminated
          |  FROM flags LEFT JOIN contaminated ON flags.doc_id = contaminated.doc_id
          |), agg AS (
          |  SELECT count(1) AS n0,
          |    count(1) FILTER (quality >= 0.5) AS n1,
          |    count(1) FILTER (quality >= 0.5 AND dedup_keep) AS n2,
          |    count(1) FILTER (quality >= 0.5 AND dedup_keep AND NOT contaminated) AS n3
          |  FROM f
          |)
          |SELECT '0_total' AS stage, n0 AS n_docs FROM agg
          |UNION ALL SELECT '1_quality_floor', n1 FROM agg
          |UNION ALL SELECT '2_after_dedup', n2 FROM agg
          |UNION ALL SELECT '3_decontaminated', n3 FROM agg
          |ORDER BY stage""".stripMargin,

      "d26_heavy_hitters" ->
        """WITH tok AS (
          |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          |  FROM documents
          |), ex AS (
          |  SELECT term, count(1) AS cnt FROM tok GROUP BY term
          |), n AS (SELECT count(1) AS n FROM tok)
          |SELECT term, cnt, true AS in_sketch
          |FROM ex, n WHERE cnt * 64 > n ORDER BY term""".stripMargin,

      "d16_sketch_accuracy" ->
        """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_custkeys,
          |  true AS cd_ok, true AS p50_ok, true AS p99_ok
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "d17_hll_accuracy" ->
        """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_custkeys,
          |  true AS hll_ok
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "d28_sequence_packing" ->
        """WITH tk AS (
          |  SELECT doc_id, doc_id % 16 AS bucket,
          |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
          |  FROM documents
          |), cum AS (
          |  SELECT *, COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
          |  FROM tk
          |)
          |SELECT bucket, cum_before // 2048 AS pack_id, count(1) AS n_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
          |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
          |FROM cum GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "d29_stratified_sample" ->
        """WITH h AS (
          |  SELECT doc_id, lang,
          |    CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'fr' THEN 30
          |      WHEN 'es' THEN 20 ELSE 10 END AS rate_pct,
          |    ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS h
          |  FROM documents
          |)
          |SELECT lang, rate_pct, count(1) AS n_total,
          |  count(1) FILTER (h < rate_pct) AS n_sampled,
          |  min(doc_id) FILTER (h < rate_pct) AS min_sampled_doc
          |FROM h GROUP BY lang, rate_pct ORDER BY lang""".stripMargin,

      "d30_incremental_dedup" ->
        """WITH history AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
          |), new_batch AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000, text FROM history WHERE doc_id % 8 = 1
          |  UNION ALL
          |  SELECT doc_id + 3000000, text || ' update' FROM history WHERE doc_id % 8 = 3
          |), hist_hash AS (
          |  SELECT doc_id AS hist_id,
          |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          |  FROM history
          |), exact AS (
          |  SELECT n.doc_id, min(hist_id) AS matched, 'exact_dup' AS verdict
          |  FROM (SELECT doc_id,
          |          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          |        FROM new_batch) n
          |  JOIN hist_hash USING (h) GROUP BY n.doc_id
          |), rest AS (
          |  SELECT doc_id, text FROM new_batch
          |  WHERE doc_id NOT IN (SELECT doc_id FROM exact)
          |), rest_sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |        FROM rest) WHERE len(toks) >= 3
          |), hist_sh AS (
          |  SELECT doc_id AS hist_id,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hsh
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          |        FROM history) WHERE len(toks) >= 3
          |), near AS (
          |  SELECT doc_id, min(hist_id) AS matched, 'near_dup' AS verdict
          |  FROM (
          |    SELECT a.doc_id, b.hist_id, count(1) AS shared,
          |      any_value(len(a.shingles)) AS na, any_value(len(b.hsh)) AS nb
          |    FROM (SELECT doc_id, shingles, unnest(shingles) AS sh FROM rest_sh) a
          |    JOIN (SELECT hist_id, hsh, unnest(hsh) AS sh FROM hist_sh) b USING (sh)
          |    GROUP BY a.doc_id, b.hist_id
          |  ) c
          |  WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
          |  GROUP BY doc_id
          |), keep AS (
          |  SELECT doc_id, -1 AS matched, 'keep' AS verdict FROM new_batch
          |  WHERE doc_id NOT IN (SELECT doc_id FROM exact)
          |    AND doc_id NOT IN (SELECT doc_id FROM near)
          |)
          |SELECT doc_id, verdict, matched FROM exact
          |UNION ALL SELECT doc_id, verdict, matched FROM near
          |UNION ALL SELECT doc_id, verdict, matched FROM keep
          |ORDER BY doc_id""".stripMargin,

      "d31_domain_mixture" ->
        """WITH per AS (
          |  SELECT source, count(1) AS n_docs,
          |    CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS tokens
          |  FROM documents GROUP BY source
          |), z AS (
          |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_sort(list(sqrt(CAST(tokens AS DOUBLE))))),
          |    (a, x) -> a + x) AS z
          |  FROM per
          |)
          |SELECT source, n_docs, tokens,
          |  round(sqrt(CAST(tokens AS DOUBLE)) / z, 6) AS weight,
          |  CAST(round(10000000.0 * sqrt(CAST(tokens AS DOUBLE)) / z) AS BIGINT) AS alloc_tokens
          |FROM per, z ORDER BY source""".stripMargin,

      "d32_embedding_quantize" ->
        """WITH sc AS (
          |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
          |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
          |      1e-30) AS scale,
          |    embedding
          |  FROM embeddings
          |), q AS (
          |  SELECT vec_id, dim, scale,
          |    list_transform(embedding,
          |      x -> CAST(round(127.0 * CAST(x AS DOUBLE) / scale) AS BIGINT)) AS q
          |  FROM sc
          |)
          |SELECT vec_id, dim, scale,
          |  CAST(list_sum(list_transform(q, (qv, i) -> qv * i)) AS BIGINT) AS checksum,
          |  list_min(q) AS q_min, list_max(q) AS q_max
          |FROM q ORDER BY vec_id""".stripMargin,

      // batched inference: batch membership is doc_id div 32; per-row
      // digest replayed from hex(blob) nibble pairs like m02
      "m03_multimodal_batched_inference" ->
        """WITH b AS (
          |  SELECT doc_id, hex(encode(text)) AS hx,
          |    octet_length(encode(text)) AS nb,
          |    doc_id // 32 AS batch_key
          |  FROM documents
          |), bl AS (
          |  SELECT doc_id, batch_key, nb,
          |    list_transform(range(1, nb + 1), i ->
          |      (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
          |      + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS bytes
          |  FROM b
          |), agg AS (
          |  SELECT batch_key, CAST(count(1) AS BIGINT) AS batch_size,
          |    CAST(SUM(nb) AS BIGINT) AS batch_bytes
          |  FROM bl GROUP BY batch_key
          |)
          |SELECT doc_id, bl.batch_key, batch_size, batch_bytes,
          |  list_reduce(list_prepend(7, bytes), (d, x) -> (31*d + x) % 2147483647) AS digest
          |FROM bl JOIN agg USING (batch_key)
          |ORDER BY doc_id""".stripMargin,

      // frame sampling is SQL-expressible too: byte values recovered from
      // hex(blob) nibble pairs, 64-byte frames sliced with every 2nd
      // kept, and the modular polynomial digest folded with list_reduce
      "m02_multimodal_frames" ->
        """WITH b AS (
          |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
          |  FROM documents
          |), bl AS (
          |  SELECT doc_id, nb,
          |    list_transform(range(1, nb + 1), i ->
          |      (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
          |      + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS bytes
          |  FROM b
          |), fr AS (
          |  SELECT doc_id, f, bytes[(f*64+1):least((f+1)*64, nb)] AS fb
          |  FROM bl, unnest(range(0, CAST(ceil(nb / 64.0) AS BIGINT))) AS t(f)
          |  WHERE f % 2 = 0
          |)
          |SELECT doc_id, count(1) AS n_sampled_frames,
          |  CAST(sum(len(fb)) AS BIGINT) AS sampled_bytes,
          |  min(list_reduce(list_prepend(1125899906842597 % 2147483647, fb),
          |      (d, x) -> (31*d + x) % 2147483647)) AS min_digest
          |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // the gate's images are closed-form pixel grids round-tripped
      // through a real PNG encode+decode, so the oracle replays the
      // DECODED pixels directly from the formula: pixel(x,y) =
      // (id*31 + 7x + 13y [+16 on the 2 bumped pixels]) mod 256 over a
      // (16 + id%16) × 16 grid — if ImageIO round-trips exactly, the
      // luminance histograms (and hence the pHash bits) match
      "m04_multimodal_phash_dedup" ->
        """WITH base AS (
          |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0
          |), imgs AS (
          |  SELECT doc_id AS out_id, doc_id AS seed, FALSE AS bumped FROM base
          |  UNION ALL SELECT doc_id + 1000000, doc_id, TRUE FROM base
          |), hist AS (
          |  SELECT out_id AS doc_id, list_transform(range(16), i ->
          |    len(list_filter(
          |      flatten(list_transform(range(16), y ->
          |        list_transform(range(16 + seed % 16), x ->
          |          (seed*31 + x*7 + y*13 +
          |           CASE WHEN bumped AND x = 0 AND y < 2 THEN 16 ELSE 0 END) % 256))),
          |      v -> v // 16 = i))) AS f
          |  FROM imgs
          |), ph AS (
          |  SELECT doc_id, CAST(list_sum(list_transform(range(60), k ->
          |    CASE WHEN f[CAST((k*5+1)%16 AS INT) + 1] > f[CAST((k*11+6)%16 AS INT) + 1]
          |         THEN CAST(power(2, k) AS BIGINT) ELSE 0 END)) AS BIGINT) AS ph
          |  FROM hist
          |)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
          |FROM ph a JOIN ph b ON b.doc_id > a.doc_id
          |WHERE bit_count(xor(a.ph, b.ph)) <= 3
          |ORDER BY id_a, id_b""".stripMargin,

      // decoded GIF frames replayed from the per-frame pixel formula
      // pixel(f,x,y) = (id*29 + 7f + 3x + 5y) mod 256 over a
      // (12 + id%8) × 8 grid, 3 + id%5 frames, every 2nd frame kept
      "m06_multimodal_gif_frames" ->
        """WITH b AS (
          |  SELECT doc_id, 12 + doc_id % 8 AS w, 3 + doc_id % 5 AS nf
          |  FROM documents WHERE doc_id % 3 = 0
          |), fr AS (
          |  SELECT doc_id, w, f
          |  FROM b, unnest(range(nf)) AS t(f)
          |  WHERE f % 2 = 0
          |)
          |SELECT doc_id, CAST(f AS INT) AS frame_no, CAST(w AS INT) AS width,
          |  CAST(8 AS INT) AS height,
          |  array_to_string(list_transform(range(16), k ->
          |    len(list_filter(
          |      flatten(list_transform(range(8), y ->
          |        list_transform(range(w), x -> (doc_id*29 + f*7 + x*3 + y*5) % 256))),
          |      v -> v // 16 = k))), ',') AS features_csv
          |FROM fr ORDER BY doc_id, frame_no""".stripMargin,

      // silence segmentation replayed from the WAV sample formula (see
      // m05): per-frame max|amplitude|, islands via the row_number gap
      "m10_audio_silence_segments" ->
        """WITH b AS (
          |  SELECT doc_id, 256 + doc_id % 64 AS n FROM documents
          |), fr AS (
          |  SELECT doc_id, f,
          |    list_max(list_transform(range(f*64, least((f+1)*64, n)),
          |      i -> abs((doc_id*37 + i*31 + 7) % 65536 - 32768))) AS max_abs
          |  FROM b, unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS t(f)
          |), sil AS (
          |  SELECT doc_id, f,
          |    CASE WHEN max_abs < 8192 THEN 1 ELSE 0 END AS silent
          |  FROM fr
          |), isl AS (
          |  SELECT doc_id, CAST(count(1) AS BIGINT) AS run_len
          |  FROM (SELECT doc_id, f,
          |          f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
          |        FROM sil WHERE silent = 1)
          |  GROUP BY doc_id, grp
          |)
          |SELECT b.doc_id, CAST(ceil(n / 64.0) AS BIGINT) AS n_frames,
          |  CAST(coalesce(s.n_silent, 0) AS BIGINT) AS n_silent,
          |  CAST(coalesce(m.max_run, 0) AS BIGINT) AS max_silent_run
          |FROM b
          |LEFT JOIN (SELECT doc_id, sum(silent) AS n_silent FROM sil GROUP BY 1) s
          |  ON b.doc_id = s.doc_id
          |LEFT JOIN (SELECT doc_id, max(run_len) AS max_run FROM isl GROUP BY 1) m
          |  ON b.doc_id = m.doc_id
          |ORDER BY b.doc_id""".stripMargin,

      // scene cuts replayed from the GIF pixel formula (see m06): frame
      // histograms in SQL, lag window, same integer 2/7 cut rule
      // pooled-histogram signatures replayed from the m09 pixel formula;
      // planted re-uploads (id+3M) decode the ORIGINAL id's GIF bytes,
      // so their pooled vector — and md5 signature — must collide
      "m11_video_pooled_dedup" ->
        """WITH ids AS (
          |  SELECT doc_id, doc_id AS orig FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 3000000, doc_id FROM documents WHERE doc_id % 30 = 0
          |), b AS (
          |  SELECT doc_id, orig, 12 + orig % 8 AS w, 3 + orig % 5 AS nf FROM ids
          |), fr AS (
          |  SELECT doc_id, w, f,
          |    list_transform(range(16), k ->
          |      len(list_filter(
          |        flatten(list_transform(range(8), y ->
          |          list_transform(range(w), x -> (orig*29 + f*7 + x*3 + y*5) % 256))),
          |        v -> v // 16 = k))) AS hist
          |  FROM b, unnest(range(nf)) AS t(f)
          |), px AS (
          |  SELECT doc_id, k, CAST(sum(hist[k+1]) AS BIGINT) AS pv
          |  FROM fr, unnest(range(16)) AS r(k)
          |  GROUP BY 1, 2
          |), csvs AS (
          |  SELECT doc_id, string_agg(CAST(pv AS VARCHAR), ',' ORDER BY k) AS pooled_csv
          |  FROM px GROUP BY 1
          |), sg AS (
          |  SELECT doc_id, md5(pooled_csv) AS sig FROM csvs
          |)
          |SELECT sig, CAST(count(1) AS BIGINT) AS n_videos, min(doc_id) AS keep_id,
          |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids_csv
          |FROM sg GROUP BY 1 HAVING count(1) > 1 ORDER BY sig""".stripMargin,

      "m09_video_scene_cuts" ->
        """WITH b AS (
          |  SELECT doc_id, 12 + doc_id % 8 AS w, 3 + doc_id % 5 AS nf
          |  FROM documents WHERE doc_id % 3 = 0
          |), fr AS (
          |  SELECT doc_id, w, f,
          |    list_transform(range(16), k ->
          |      len(list_filter(
          |        flatten(list_transform(range(8), y ->
          |          list_transform(range(w), x -> (doc_id*29 + f*7 + x*3 + y*5) % 256))),
          |        v -> v // 16 = k))) AS hist
          |  FROM b, unnest(range(nf)) AS t(f)
          |), dd AS (
          |  SELECT doc_id, w, f, hist,
          |    lag(hist) OVER (PARTITION BY doc_id ORDER BY f) AS prev
          |  FROM fr
          |), cut AS (
          |  SELECT doc_id, f,
          |    CASE WHEN prev IS NULL THEN 0
          |         ELSE CAST(list_sum(list_transform(range(16),
          |                k -> abs(hist[k+1] - prev[k+1]))) AS BIGINT) END AS delta,
          |    CASE WHEN prev IS NOT NULL AND
          |      list_sum(list_transform(range(16), k -> abs(hist[k+1] - prev[k+1]))) * 7
          |        > w * 8 * 2 THEN 1 ELSE 0 END AS is_cut
          |  FROM dd
          |)
          |SELECT doc_id, count(1) AS n_frames, CAST(sum(is_cut) AS BIGINT) AS n_cuts,
          |  CAST(sum(delta) AS BIGINT) AS sum_delta,
          |  CAST(min(CASE WHEN is_cut = 1 THEN f END) AS BIGINT) AS first_cut_frame
          |FROM cut GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // decoded-PCM amplitude histogram replayed from the sample formula
      // sample(i) = ((id*37 + 31i + 7) mod 65536) - 32768 over
      // 256 + id%64 samples; head_hex is 'RIFF' + the little-endian
      // chunk size (36 + data bytes) every canonical WAV starts with
      // m12: the oracle replays syntheticWav's u16 sample formula
      // u(i) = (doc_id·37 + 31i + 7) mod 65536 through the same 3/2
      // interpolation rationals — everything stays non-negative, so
      // integer division is floor in both engines
      "m12_audio_resample" ->
        """WITH b AS (
          |  SELECT doc_id, 256 + doc_id % 64 AS n FROM documents
          |), t AS (
          |  SELECT doc_id, n, (3*n - 4)//2 + 1 AS n_out,
          |    list_transform(range(CAST((3*n - 4)//2 + 1 AS BIGINT)), t ->
          |      ((doc_id*37 + ((t*2)//3)*31 + 7) % 65536 * (3 - (t*2)%3)
          |       + (doc_id*37 + ((t*2)//3 + 1)*31 + 7) % 65536 * ((t*2)%3)) // 3) AS r
          |  FROM b
          |)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
          |  CAST(list_sum(r) AS BIGINT) AS sum_r,
          |  array_to_string(r[1:8], ',') AS r_head
          |FROM t ORDER BY doc_id""".stripMargin,

      "m05_multimodal_audio_features" ->
        """WITH b AS (
          |  SELECT doc_id, 256 + doc_id % 64 AS n FROM documents
          |)
          |SELECT doc_id, CAST(2*n AS BIGINT) AS n_bytes, 'audio/wav' AS mime,
          |  '52494646' || printf('%02x%02x%02x%02x',
          |    CAST((36+2*n)%256 AS INT), CAST(((36+2*n)//256)%256 AS INT),
          |    CAST(((36+2*n)//65536)%256 AS INT), CAST(((36+2*n)//16777216)%256 AS INT)) AS head_hex,
          |  CAST(n AS INT) AS width, CAST(1 AS INT) AS height,
          |  array_to_string(list_transform(range(16), k ->
          |    len(list_filter(list_transform(range(n), i ->
          |      ((doc_id*37 + i*31 + 7) % 65536) // 4096), v -> v = k))), ',') AS features_csv
          |FROM b ORDER BY doc_id""".stripMargin,

      // decoded-pixel features replayed from the generative formula (the
      // Spark side really decodes the PNG bytes — see m04 note); head_hex
      // is the PNG signature every valid encode starts with
      // m08: the oracle is the PNG spec itself — signature constant,
      // IHDR fields from the synthesis parameters (w = 16 + id%16,
      // h = 16, 8-bit grayscale ⇒ bit_depth 8, color_type 0)
      "m08_multimodal_header_probe" ->
        """SELECT doc_id, '89504e470d0a1a0a' AS sig_hex,
          |  CAST(16 + doc_id % 16 AS BIGINT) AS width,
          |  CAST(16 AS BIGINT) AS height,
          |  CAST(8 AS BIGINT) AS bit_depth,
          |  CAST(0 AS BIGINT) AS color_type
          |FROM documents ORDER BY doc_id""".stripMargin,

      "m01_multimodal_features" ->
        """WITH b AS (
          |  SELECT doc_id, 16 + doc_id % 16 AS w,
          |    flatten(list_transform(range(16), y ->
          |      list_transform(range(16 + doc_id % 16), x ->
          |        (doc_id*31 + x*7 + y*13) % 256))) AS px
          |  FROM documents
          |)
          |SELECT doc_id, CAST(w*16 AS BIGINT) AS n_bytes, 'image/png' AS mime,
          |  '89504e470d0a1a0a' AS head_hex,
          |  CAST(w AS INT) AS width, CAST(16 AS INT) AS height,
          |  array_to_string(list_transform(range(16), i ->
          |    len(list_filter(px, v -> v // 16 = i))), ',') AS features_csv
          |FROM b ORDER BY doc_id""".stripMargin,

      // m07: the oracle replays the synthetic pixel formula at the
      // nearest-neighbor sample points (sx = tx*w//8, sy = ty*2) — no
      // codec needed; the engine path decodes the real PNG.
      "m07_multimodal_resize" ->
        """WITH b AS (
          |  SELECT doc_id, 16 + doc_id % 16 AS w FROM documents
          |), t AS (
          |  SELECT doc_id, w,
          |    list_transform(range(64), k ->
          |      (doc_id*31 + ((k % 8) * w // 8) * 7 + ((k // 8) * 16 // 8) * 13) % 256) AS thumb
          |  FROM b
          |)
          |SELECT doc_id, CAST(w AS INT) AS src_w, CAST(16 AS INT) AS src_h,
          |  CAST(list_sum(thumb) // 64 AS BIGINT) AS mean_luma,
          |  array_to_string(thumb, ',') AS thumb_csv
          |FROM t ORDER BY doc_id""".stripMargin,

      "d10_ann_bruteforce_topk" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, q,
          |    list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS nrm
          |  FROM e
          |), scored AS (
          |  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    round(CAST(list_sum(list_transform(range(1, 65), i -> qr.q[i] * c.q[i])) AS DOUBLE)
          |      / (sqrt(CAST(qr.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 6) AS cos
          |  FROM n qr JOIN n c ON c.vec_id <> qr.vec_id
          |  WHERE qr.vec_id < 10
          |), ranked AS (
          |  SELECT query_id, neighbor_id, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM scored
          |)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos
          |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    )
  }
}
