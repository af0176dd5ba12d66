package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Public corpus-analysis / selection API: per-document scoring,
  * deterministic sampling, sequence packing, mixture weighting,
  * decontamination — the selection stages a pretraining pipeline runs
  * between raw crawl and training batches.
  *
  * Determinism rules: sampling decisions hash content (md5 residues,
  * no RNG state — reproducible across runs, engines, and cluster
  * sizes); anything float-summed across rows is either avoided,
  * order-pinned (sorted fold), or exact-integer. Everything is per-row
  * expressions plus bounded aggregates — the ops scale with the scan.
  */
object Corpus {

  /** lowercase whitespace tokens of `textCol`. */
  def tokens(textCol: String = "text"): Column =
    split(lower(trim(col(textCol))), "\\s+")

  /** 60-bit md5-derived content hash residue in [0, mod) — the
    * deterministic coin for sampling decisions.
    */
  def hashResidue(textCol: String = "text", mod: Int = 100): Column =
    expr(s"cast(conv(substring(md5($textCol), 1, 15), 16, 10) as bigint) % $mod")

  /** whitespace + BPE-ish token counts and char length per doc. */
  def tokenCounts(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol),
      size(split(trim(col(textCol)), "\\s+")).cast(LongType).as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .cast(LongType).as("bpe_tokens"),
      length(col(textCol)).cast(LongType).as("n_chars"))

  /** Gopher/RefinedWeb-style quality score: 0.4·length-saturation +
    * 0.3·stopword-ratio + 0.3·alpha-ratio. Per-doc ratios only — no
    * cross-row float sums.
    */
  def qualityScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", keep: Seq[String] = Nil): DataFrame =
    df.withColumn("toks", tokens(textCol))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("alpha_chars",
        length(regexp_replace(col(textCol), "[^A-Za-z]", "")).cast(LongType))
      .withColumn("stop_hits", expr(
        "cast(size(filter(toks, t -> t in ('the','a','of','and','to','in','is'))) as bigint)"))
      .select(col(idCol) +: keep.map(col) :+ col("n_tokens") :+
        col("alpha_chars") :+ col("stop_hits") :+
        (lit(0.4) * least(lit(1.0), col("n_tokens").cast(DoubleType) / 100.0)
          + lit(0.3) * (col("stop_hits").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          + lit(0.3) * (col("alpha_chars").cast(DoubleType)
            / length(col(textCol)).cast(DoubleType))).as("quality"): _*)

  /** Deterministic stratified sampling: `rateCol` (an integer percent
    * column, e.g. a CASE over language) decides the per-stratum keep
    * rate; the content-hash residue decides membership. Appends a
    * boolean `sampled` column.
    */
  def stratifiedFlag(df: DataFrame, rateCol: Column,
      textCol: String = "text"): DataFrame =
    df.withColumn("rate_pct", rateCol)
      .withColumn("sampled", hashResidue(textCol) < col("rate_pct"))

  /** Concatenate-and-cut sequence packing: within each of `numBuckets`
    * deterministic buckets, docs are laid end-to-end in id order and
    * cut every `budget` tokens; a doc belongs to the pack where its
    * first token lands. One window cumsum per bucket — a single
    * shuffle, no driver state, no global ordering across buckets.
    * Returns per-pack (bucket, pack_id, n_docs, pack_tokens,
    * first_doc, last_doc).
    */
  def packSequences(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", budget: Long = 2048,
      numBuckets: Int = 16): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", size(tokens(textCol)).cast(LongType))
      .withColumn("bucket", col(idCol) % numBuckets)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .groupBy(col("bucket"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** Temperature-weighted mixture weights per domain: w_i ∝ tokens_i^α
    * with α = 0.5 (sqrt — chosen because sqrt is IEEE-exact in every
    * engine, unlike pow), plus a token allocation under `budgetTokens`.
    * The normalizer folds a SORTED collected list so the DOUBLE output
    * is bit-reproducible regardless of partitioning. Domains are a
    * vocabulary, not data-sized — the collect is bounded.
    */
  def mixtureWeights(df: DataFrame, domainCol: String = "source",
      textCol: String = "text", budgetTokens: Double = 1e7): DataFrame = {
    val per = df
      .withColumn("n_tokens", size(tokens(textCol)).cast(LongType))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
    val z = per.agg(expr(
      """aggregate(sort_array(collect_list(sqrt(cast(tokens as double)))),
        |  cast(0 as double), (a, x) -> a + x)""".stripMargin).as("z"))
    per.crossJoin(z)
      .select(col(domainCol), col("n_docs"), col("tokens"),
        round(sqrt(col("tokens").cast(DoubleType)) / col("z"), 6).as("weight"),
        round(lit(budgetTokens) * sqrt(col("tokens").cast(DoubleType)) / col("z"))
          .cast(LongType).as("alloc_tokens"))
  }

  /** Per-document top-`topK` BM25 terms (k1 = 1.2, b = 0.75), with the
    * log-idf replaced by its rational argument (N − df + 0.5)/(df + 0.5)
    * — rank-identical per term, and computable with only IEEE + − × /
    * on exact-int inputs, so the DOUBLE scores are bit-reproducible
    * across engines (ln is the one op libms disagree on). The constants
    * appear as decimal literals (2.2, 0.25, 0.75) — correctly-rounded
    * parsing makes them the same doubles in any engine.
    *
    * Shape: tf aggregates with map-side combine on (doc, term); dl is
    * a second aggregate of tf (no re-scan); df is vocabulary-sized and
    * joins back; the corpus-level (N, Σdl) pair is one broadcast row.
    */
  def bm25Terms(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 3,
      materialize: Boolean = true): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(textCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    val out = tf.join(dl, idCol).join(dfreq, "term").crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("idf",
        (col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5))
          / (col("df").cast(DoubleType) + lit(0.5)))
      .withColumn("score", col("idf") * (col("tf").cast(DoubleType) * lit(2.2))
        / (col("tf").cast(DoubleType)
          + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / col("avgdl")))))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= topK)
      .select(col(idCol), col("rank").cast(LongType).as("rank"), col("term"),
        col("tf"), col("df"), col("dl"), col("score"))
    // release the tf cache before returning (long-lived-JVM hygiene —
    // the d98 pattern); materialize=false keeps the lazy plan for audits
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      tf.unpersist()
      result
    }
  }

  /** Fixed-size overlapping token chunks — the training-window prep
    * step: starts every `chunkTokens − overlap` tokens, each chunk up
    * to `chunkTokens` long (the tail is shorter). Pure per-row
    * explode + slice — scales with the scan, no shuffle. Returns
    * (id, chunk_id, start_tok, chunk_toks, chunk_hash).
    */
  def chunked(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkTokens: Int = 128,
      overlap: Int = 32): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    df.withColumn("toks", tokens(textCol))
      .where(size(col("toks")) >= 1)
      .withColumn("start", explode(expr(
        s"sequence(0, size(toks) - 1, $stride)")))
      .withColumn("chunk", expr(s"slice(toks, start + 1, $chunkTokens)"))
      .select(col(idCol), expr(s"cast(start div $stride as bigint)").as("chunk_id"),
        col("start").cast(LongType).as("start_tok"),
        size(col("chunk")).cast(LongType).as("chunk_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** Weighted sampling without replacement, k per group, by sequential
    * Poisson sampling (Ohlsson): priority = u / w with u the 60-bit
    * content-hash uniform — the k smallest priorities per group are the
    * sample. Two IEEE divisions, no RNG state and no pow/ln, so the
    * draw is reproducible across runs, engines, and cluster sizes.
    * One shuffle on the group key; the per-group top-k is a bounded
    * window. Returns (group, id, weight, rank).
    */
  def weightedSample(df: DataFrame, groupCol: String, weightCol: Column,
      idCol: String = "doc_id", k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("pri"), col(idCol))
    df.withColumn("w", weightCol.cast(DoubleType))
      .where(col("w") > 0)
      .withColumn("u", expr(
        s"cast(conv(substring(md5(cast($idCol as string)), 1, 15), 16, 10) as bigint)")
        .cast(DoubleType) / lit(1152921504606846976.0)) // 2^60, exact
      .withColumn("pri", col("u") / col("w"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(groupCol), col(idCol), col("w").as("weight"),
        col("rank").cast(LongType).as("rank"))
  }

  /** Linear classifier inference over hashed token features — how a
    * fasttext-style quality/safety filter actually runs at corpus
    * scale: tokens hash into `nBuckets` buckets, the bucket→weight
    * table (vocabulary-sized, here a column pair in `weights`:
    * (bucket, w)) BROADCASTS, and the doc score is an exact integer
    * sum with map-side combine. The corpus shuffles only slim
    * (doc_id, partial-sum) rows. Margin > 0 is the accept decision;
    * callers calibrate with their own trained weights. Returns
    * (id, n_toks, margin, accept).
    */
  def linearScore(df: DataFrame, weights: DataFrame, nBuckets: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.BitSketchExpressions.register(df.sparkSession)
    df.select(col(idCol), explode(tokens(textCol)).as("tok"))
      .withColumn("bucket", expr(s"graft_md5_60(tok) % $nBuckets"))
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("margin"))
      .withColumn("accept", col("margin") > 0)
  }

  /** Benchmark decontamination: corpus docs sharing ≥ `threshold` of
    * their word-3-gram shingles with any benchmark doc. The benchmark
    * side is bounded (eval sets are), so its exploded shingles
    * BROADCAST and the corpus streams through once — no corpus shuffle.
    * Returns (doc_id, bench_id, shared, overlap).
    */
  def contamination(corpus: DataFrame, bench: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.1): DataFrame = {
    val cs = TextDedup.shingled(corpus, textCol)
      .select(col(idCol), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("sh"))
    val bs = TextDedup.shingled(bench, textCol)
      .select(col(idCol).as("bench_id"), explode(col("shingles")).as("sh"))
    cs.join(broadcast(bs), Seq("sh"))
      .groupBy(col(idCol), col("bench_id"), col("n_sh"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("overlap", round(col("shared").cast(DoubleType) / col("n_sh"), 6))
      .where(col("overlap") >= threshold)
      .select(col(idCol), col("bench_id"), col("shared"), col("overlap"))
  }

  /** Deflate compression ratio per document — the Gopher-family
    * repetitiveness signal: boilerplate and template spam compress far
    * below prose, so `deflate_len·1000 div raw_len` under ~300‰ marks
    * a document for removal. The zlib pass is the native codegen'd
    * [[graft.functions.DeflateLength]] expression (per-thread Deflater
    * reset per row), so the whole scoring projection stays inside one
    * whole-stage-codegen span — no UDF, no Dataset ser/deser boundary.
    * Level-6 zlib output is deterministic for fixed input bytes; no
    * SQL engine exposes zlib → the gate is rows-only by design.
    * Scales with the scan: per-row CPU, no shuffle.
    */
  def compressionRatio(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.BitSketchExpressions.register(df.sparkSession)
    df.select(col(idCol).cast(LongType).as(idCol),
        octet_length(col(textCol)).cast(LongType).as("raw_len"),
        expr(s"graft_deflate_len($textCol)").as("deflate_len"))
      .withColumn("ratio_permille",
        expr("deflate_len * 1000 div greatest(raw_len, 1)"))
      .withColumn("is_repetitive", col("ratio_permille") < 300)
  }

  /** Luhn (mod-10) checksum validity of a digit string — the checksum
    * every payment-card number satisfies, so PII scrubbing can separate
    * real card numbers from arbitrary digit runs (order IDs, phone
    * numbers) instead of redacting every long number. Pure built-in
    * expression arithmetic (codegen'd, per-row): doubling every second
    * digit from the right, subtracting 9 above 9, summing mod 10.
    */
  def luhnValid(num: Column): Column = {
    val digits = reverse(split(num, ""))
    aggregate(
      zip_with(digits, sequence(lit(0), length(num) - 1), (d, i) => {
        val v = d.cast(IntegerType)
        when(i % 2 === 1,
          when(v * 2 > 9, v * 2 - 9).otherwise(v * 2)).otherwise(v)
      }),
      lit(0),
      (acc, x) => acc + x) % 10 === 0
  }

  /** Card-number PII detection: extract contiguous 13–19 digit runs
    * (the ISO/IEC 7812 length range) and Luhn-validate each. Per doc:
    * candidate count, Luhn-valid count, and a has_valid_card flag —
    * the triage signal a redaction pass keys on. Per-row regex +
    * in-row aggregate; scales with the scan, no shuffle.
    */
  def cardCandidates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.withColumn("cands",
        regexp_extract_all(col(textCol), lit("\\d{13,19}"), lit(0)))
      .select(col(idCol),
        size(col("cands")).cast(LongType).as("n_cands"),
        size(filter(col("cands"), c => luhnValid(c))).cast(LongType).as("n_valid"))
      .withColumn("has_valid_card", col("n_valid") > 0)

  /** RLHF/DPO preference-pair construction from a scored corpus: within
    * each group (e.g. a prompt cluster), pair the k best-scored rows
    * with the k worst-scored rows rank-for-rank (best↔worst,
    * 2nd-best↔2nd-worst, …) and keep pairs whose score margin is at
    * least `minMargin` — the standard chosen/rejected mining shape.
    * Ties break on `idCol` so the pairing is deterministic. Two
    * row_number windows over the same group partitioning → ONE hash
    * exchange; output is ≤ k rows per group, never quadratic.
    */
  def preferencePairs(scored: DataFrame, groupCols: Seq[String],
      scoreCol: String, idCol: String = "doc_id", k: Int = 5,
      minMargin: Double = 0.0): DataFrame = {
    val grp = groupCols.map(col)
    val wTop = Window.partitionBy(grp: _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val wBot = Window.partitionBy(grp: _*)
      .orderBy(col(scoreCol).asc, col(idCol).desc)
    val top = scored.withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= k)
      .select(grp :+ col("rk") :+ col(idCol).as("chosen_id") :+
        col(scoreCol).cast(DoubleType).as("chosen_score"): _*)
    val bot = scored.withColumn("rk", row_number().over(wBot))
      .where(col("rk") <= k)
      .select(grp :+ col("rk") :+ col(idCol).as("rejected_id") :+
        col(scoreCol).cast(DoubleType).as("rejected_score"): _*)
    top.join(bot, groupCols :+ "rk")
      .where(col("chosen_id") =!= col("rejected_id") &&
        col("chosen_score") - col("rejected_score") >= minMargin)
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
  }

  /** Token-level Shannon entropy and type-token ratio — the
    * vocabulary-diversity quality signal (near-zero entropy = a doc
    * that repeats one token; spam and boilerplate score low). The
    * entropy fold runs over the SORTED distinct-token list so the
    * float summation order is pinned (cross-engine reproducible).
    * Per-row array work only; scales with the scan.
    */
  def tokenEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lowEntropyBits: Double = 1.0): DataFrame =
    df.withColumn("toks", tokens(textCol))
      .where(size(col("toks")) >= 1)
      .withColumn("n_toks", size(col("toks")).cast(LongType))
      .withColumn("n_types",
        size(array_distinct(col("toks"))).cast(LongType))
      .withColumn("entropy_bits", expr(
        """-aggregate(
          |  transform(array_sort(array_distinct(toks)),
          |    t -> cast(size(filter(toks, x -> x = t)) as double)),
          |  cast(0.0 as double),
          |  (acc, c) -> acc + (c / cast(n_toks as double))
          |    * (ln(c / cast(n_toks as double)) / ln(2.0)))""".stripMargin))
      .select(col(idCol), col("n_toks"), col("n_types"),
        // + 0.0 normalizes IEEE -0.0 (a zero-entropy doc negates a 0.0
        // sum) to +0.0 so the cross-engine string compare agrees
        round(col("entropy_bits") + lit(0.0), 6).as("entropy_bits"),
        round(col("n_types").cast(DoubleType) / col("n_toks"), 6).as("ttr"))
      .withColumn("is_low_entropy", col("entropy_bits") < lowEntropyBits)

  /** Area-under-the-ROC-curve of a score column against a binary label,
    * computed by the Mann-Whitney rank-sum identity with average-rank
    * tie handling — the standard acceptance check for a quality
    * classifier before its threshold gates a corpus.
    *
    * Scale shape: scores are quantized (round to `quantize` decimals)
    * and aggregated to per-distinct-score (n_pos, n_neg) counts FIRST —
    * one slim shuffle that scales with the scan — so the rank window
    * runs over the distinct-score table (bounded by the score grid,
    * thousands of rows at any corpus size), never a corpus-wide sort.
    * AUC = Σ_s n_pos(s)·(cum_neg_below(s) + n_neg(s)/2) / (P·N); every
    * addend is an exact multiple of 0.5 so the float sum is
    * order-independent (engine-reproducible).
    */
  def rankAuc(scored: DataFrame, scoreCol: String, labelCol: String,
      quantize: Int = 6): DataFrame = {
    val byScore = scored
      .select(round(col(scoreCol), quantize).as("s"),
        col(labelCol).cast(IntegerType).as("y"))
      .groupBy("s")
      .agg(sum(col("y")).cast(DoubleType).as("np"),
        sum(lit(1) - col("y")).cast(DoubleType).as("nn"))
    val wBelow = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(wBelow), lit(0.0)))
      .agg(sum(col("np")).cast(LongType).as("n_pos"),
        sum(col("nn")).cast(LongType).as("n_neg"),
        round(sum(col("np") * (col("cum_nn") + col("nn") / 2)) /
          (sum(col("np")) * sum(col("nn"))), 6).as("auc"))
  }

  /** Bradley-Terry strength estimation from pairwise win/loss records
    * (the model behind arena-style LLM leaderboards and reward-model
    * data QA): given (winner, loser) match rows, run `iters` rounds of
    * the minorization-maximization update
    * π_i ← W_i / Σ_j n_ij/(π_i+π_j), renormalized to mean 1 each round
    * so the scale is pinned. Deterministic: uniform init, fixed
    * iteration count, exact-integer win/game counts.
    *
    * Scale shape: the heavy part is upstream (whoever builds the match
    * rows scans the corpus); here matches collapse to one slim
    * (i, j, wins, games) edge aggregation — competitor-vocabulary-
    * sized — and each MM round is a broadcast join + re-aggregation
    * over that edge table. No corpus-sized state ever recirculates.
    */
  def bradleyTerry(matches: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser", iters: Int = 2,
      materialize: Boolean = true): DataFrame = {
    val dir = matches
      .select(col(winnerCol).as("i"), col(loserCol).as("j"), lit(1.0).as("wi"))
      .unionByName(matches
        .select(col(loserCol).as("i"), col(winnerCol).as("j"), lit(0.0).as("wi")))
    val edges0 = dir.groupBy("i", "j")
      .agg(sum(col("wi")).as("wij"), count(lit(1)).cast(DoubleType).as("nij"))
    // The competitor-sized edge table is referenced by every MM round
    // plus the totals join; an eager localCheckpoint runs the (corpus-
    // scale) match lineage exactly once — ContextCleaner reclaims the
    // blocks once the result is unreferenced. `false` keeps the lazy
    // plan for audits.
    val edges = if (materialize) edges0.localCheckpoint(true) else edges0
    var pis = edges.select(col("i").as("item")).distinct()
      .withColumn("pi", lit(1.0))
    for (_ <- 1 to iters) {
      val piI = pis.select(col("item").as("i"), col("pi").as("pi_i"))
      val piJ = pis.select(col("item").as("j"), col("pi").as("pi_j"))
      val raw = edges
        .join(broadcast(piI), "i").join(broadcast(piJ), "j")
        .groupBy(col("i").as("item"))
        .agg((sum(col("wij")) /
          sum(col("nij") / (col("pi_i") + col("pi_j")))).as("pi_raw"))
      // raw feeds two consumers (the normalizer and the update) and
      // pis feeds two joins next round — without per-round lineage
      // cuts the UNROLLED plan doubled per reference each iteration
      // (116 Exchanges / 1,482 plan lines at iters=2; d117 spent
      // ~1.7 s PLANNING a 10-row solve — plans/r12/d117_*). The
      // checkpointed frames are competitor-sized; same math, same
      // fixpoint, flat plans.
      // LAZY cut: the broadcast-build of `tot` materializes the round's
      // blocks before the main job reads them (strictly ordered, no
      // branch race), so the lineage is truncated without paying one
      // standalone eager job per round. Checkpoints.cut upgrades to a
      // reliable checkpoint when a checkpoint dir is configured.
      val rawM = if (materialize) graft.core.Checkpoints.cut(raw, eager = false) else raw
      val tot = rawM.agg(sum(col("pi_raw")).as("t"),
        count(lit(1)).cast(DoubleType).as("k"))
      pis = rawM.crossJoin(broadcast(tot))
        .select(col("item"), (col("pi_raw") * col("k") / col("t")).as("pi"))
    }
    val totals = edges.groupBy(col("i").as("item"))
      .agg(sum(col("wij")).cast(LongType).as("wins"),
        sum(col("nij")).cast(LongType).as("games"))
    totals.join(pis, "item")
      .select(col("item"), col("wins"), col("games"),
        round(col("pi"), 6).as("strength"))
  }

  /** Encoding-artifact (mojibake) detection: counts the signature
    * sequences of UTF-8 text decoded as Latin-1 and re-encoded ("Ã©",
    * "â€™", "Â·", …) plus the U+FFFD replacement char that lossy
    * transcoding leaves behind — corpus text with these is damaged at
    * the byte level and no downstream filter can repair it, so it's
    * flagged before tokenization. Per-row codegen regex counting;
    * scales with the scan, no shuffle.
    */
  def encodingArtifacts(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minArtifacts: Int = 2): DataFrame = {
    val doublePat = "Ã©|Ã¨|Ã¼|Ã±|Ã¯|â€™|â€œ|Â·"
    df.select(col(idCol),
        regexp_count(col(textCol), lit(doublePat))
          .cast(LongType).as("n_double_enc"),
        regexp_count(col(textCol), lit("�"))
          .cast(LongType).as("n_replacement"))
      .withColumn("n_artifacts", col("n_double_enc") + col("n_replacement"))
      .withColumn("is_mojibake", col("n_artifacts") >= minArtifacts)
  }

  /** Curriculum-learning schedule: rank docs within each group by a
    * difficulty signal (easiest first, id tie-break) and assign the
    * first epoch that sees each doc under root pacing — epoch e of E
    * trains on the easiest ⌈n·√(e/E)⌉ docs of the group, so early
    * epochs see easy data and the tail unlocks gradually. first_epoch
    * is the inverse of the pacing function, evaluated by filtering the
    * (tiny) epoch sequence per row.
    *
    * Per-GROUP windows (domain-sized partitions), never a corpus-wide
    * sort — the per-domain curriculum is also what a 1000-executor run
    * wants, since a global rank would serialize on one partition.
    */
  def curriculumSchedule(df: DataFrame, difficulty: Column,
      groupCol: String = "source", idCol: String = "doc_id",
      epochs: Int = 4): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(difficulty.asc, col(idCol).asc)
    df.withColumn("difficulty", difficulty.cast(LongType))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .withColumn("n_grp",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("first_epoch", array_min(filter(
        sequence(lit(1), lit(epochs)),
        e => col("rnk") <=
          ceil(col("n_grp") * sqrt(e.cast(DoubleType) / epochs))))
        .cast(LongType))
  }

  /** Cohen's kappa between two binary annotators — the
    * chance-corrected agreement metric labeled-data QA runs before
    * trusting (or training on) a label source: raw agreement po
    * overstates consensus when both annotators mostly say the same
    * class; kappa subtracts the chance agreement pe of their marginal
    * rates. One conditional-sum aggregate (map-side combined, the
    * corpus collapses to four cell counts) → a 1-row result; every
    * ratio derives from exact integer counts.
    */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    df.agg(count(lit(1)).as("n"),
        cnt(aCol && bCol).as("n11"), cnt(aCol && !bCol).as("n10"),
        cnt(!aCol && bCol).as("n01"), cnt(!aCol && !bCol).as("n00"))
      .withColumn("po",
        (col("n11") + col("n00")).cast(DoubleType) / col("n"))
      .withColumn("pe",
        ((col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00")))
          .cast(DoubleType) / (col("n") * col("n")).cast(DoubleType))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
        round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6).as("kappa"))
  }

  /** Per-language tokenizer-facing corpus profile: document, token,
    * code-point and BYTE totals plus the derived chars-per-token and
    * bytes-per-char ratios — the stats that drive tokenizer/vocab
    * sizing (a script whose bytes-per-char is 3 pays 3× the byte-level
    * sequence length; chars-per-token calibrates fertility
    * expectations). Exact integer sums with map-side combine; one
    * language-sized aggregate, ratios computed after.
    */
  def langTokenStats(df: DataFrame, langCol: String = "lang",
      textCol: String = "text"): DataFrame =
    df.withColumn("n_toks", size(tokens(textCol)).cast(LongType))
      .withColumn("n_cp", length(col(textCol)).cast(LongType))
      .withColumn("n_bytes", octet_length(col(textCol)).cast(LongType))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"),
        sum(col("n_cp")).as("chars"), sum(col("n_bytes")).as("bytes"))
      .select(col(langCol), col("n_docs"), col("tokens"), col("chars"),
        col("bytes"),
        round(col("chars").cast(DoubleType) / col("tokens"), 6)
          .as("chars_per_token"),
        round(col("bytes").cast(DoubleType) / col("chars"), 6)
          .as("bytes_per_char"))

  /** KMV (k-minimum-values / theta-sketch) overlap estimation between
    * two corpus snapshots: how much of crawl B is already in crawl A,
    * WITHOUT joining the corpora — each side reduces to its k smallest
    * distinct 60-bit content hashes (a map-side-combinable top-k, the
    * same TakeOrdered shape as d85), θ = min of the two kth minima,
    * and |A∩B| ≈ |{shared sketch hashes < θ}| · 2⁶⁰/θ. Deterministic:
    * md5-derived hashes, no RNG; the estimate is a pure function of
    * the two tiny sketches. Exact distinct counts ride the same scan
    * for calibration columns.
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, textCol: String = "text",
      k: Int = 256): DataFrame = {
    val full = 1152921504606846976L // 2^60: hash domain size
    def hashes(df: DataFrame) = df.select(
      expr(s"cast(conv(substring(md5($textCol), 1, 15), 16, 10) as bigint)")
        .as("h")).distinct()
    def sketch(df: DataFrame) = hashes(df).orderBy(col("h")).limit(k)
    val ha = hashes(a).agg(count(lit(1)).as("n_a")).crossJoin(
      hashes(b).agg(count(lit(1)).as("n_b")))
    val sa = sketch(a)
    val sb = sketch(b)
    val thetaA = sa.agg(max(col("h")).as("tha"))
    val thetaB = sb.agg(max(col("h")).as("thb"))
    val shared = sa.join(sb, "h")
    shared
      .crossJoin(broadcast(thetaA)).crossJoin(broadcast(thetaB))
      .withColumn("theta", least(col("tha"), col("thb")))
      .where(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_shared_below"),
        first(col("theta")).as("theta"))
      .crossJoin(broadcast(ha))
      .select(col("n_a"), col("n_b"), col("theta"), col("n_shared_below"),
        round(col("n_shared_below").cast(DoubleType) * full / col("theta"), 3)
          .as("est_intersection"))
  }

  /** Data-constrained training-mix planning: how many epochs can each
    * source sustain, and how much of its budget slice still teaches?
    * Unique tokens U per source come from exact content-hash dedup;
    * each source gets an equal slice of a `budgetMult`·ΣU token
    * budget; effective tokens follow the published diminishing-
    * returns fit for repeated data D' = U + U·R*·(1 − e^(−R/R*))
    * (R = epochs beyond the first, R* ≈ 15.4) — a small source
    * allotted the same slice as a big one repeats more and wastes
    * more of it. Slices under one epoch are all-unique (D' = slice).
    * Exact-integer inputs (60-bit content hash dedup, integer token
    * sums); exp runs once per SOURCE, never per row.
    */
  def dataConstrainedPlan(df: DataFrame, textCol: String = "text", srcCol: String = "source",
      budgetMult: Double = 4.0, rStar: Double = 15.4): DataFrame = {
    val uniq = df.select(col(srcCol).as("source"),
        expr(s"cast(conv(substring(md5($textCol), 1, 15), 16, 10) as bigint)")
          .as("h"),
        size(tokens(textCol)).cast(LongType).as("n"))
      .groupBy(col("source"), col("h")).agg(max(col("n")).as("n"))
    val perSrc = uniq.groupBy("source")
      .agg(count(lit(1)).as("n_unique_docs"), sum(col("n")).as("u_tokens"))
    val totals = perSrc.agg(sum(col("u_tokens")).as("total_u"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(totals))
      .withColumn("budget_tokens",
        round(lit(budgetMult) * col("total_u").cast(DoubleType)
          / col("n_sources"), 3))
      .withColumn("epochs", col("budget_tokens") / col("u_tokens"))
      .withColumn("r", col("epochs") - 1.0)
      .withColumn("eff_tokens",
        when(col("r") <= 0.0, col("budget_tokens"))
          .otherwise(col("u_tokens") * (lit(1.0)
            + lit(rStar) * (lit(1.0) - exp(col("r") * lit(-1.0 / rStar))))))
      .select(col("source"), col("n_unique_docs"), col("u_tokens"),
        col("budget_tokens"), round(col("epochs"), 4).as("epochs"),
        round(col("eff_tokens"), 3).as("eff_tokens"),
        round(col("eff_tokens") / col("budget_tokens"), 6).as("utilization"))
  }

  /** Operating-point sweep for a quality classifier: per-threshold
    * confusion counts and precision/recall/F1 over an `nBuckets`-wide
    * score grid (threshold k/n ⇒ predict positive when score ≥ k/n).
    * The corpus collapses map-side to ≤ nBuckets exact (pos, neg)
    * integer rows — ONE slim shuffle; the cumulative window and every
    * ratio run on the grid, never the corpus (the global window is
    * nBuckets rows — documented-bounded, like the Zipf curve).
    */
  def thresholdSweep(df: DataFrame, scoreCol: Column, labelCol: Column,
      nBuckets: Int = 20): DataFrame = {
    val counts = df.select(
        least(greatest(floor(scoreCol * nBuckets), lit(0)),
          lit(nBuckets - 1)).cast(IntegerType).as("bucket"),
        labelCol.as("lab"))
      .groupBy("bucket").agg(
        sum(when(col("lab"), 1L).otherwise(0L)).as("pos"),
        sum(when(!col("lab"), 1L).otherwise(0L)).as("neg"))
    val grid = df.sparkSession.range(nBuckets)
      .select(col("id").cast(IntegerType).as("bucket"))
    val full = grid.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("pos", "neg"))
    val totals = full.agg(sum(col("pos")).as("tot_pos"),
      sum(col("neg")).as("tot_neg"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def ratio(num: Column, den: Column) =
      when(den > 0, round(num.cast(DoubleType) / den, 6))
    full.crossJoin(broadcast(totals))
      .withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("fp", sum(col("neg")).over(cum))
      .withColumn("fn", col("tot_pos") - col("tp"))
      .withColumn("tn", col("tot_neg") - col("fp"))
      .select(col("bucket"),
        round(col("bucket").cast(DoubleType) / nBuckets, 6).as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision"),
        ratio(col("tp"), col("tot_pos")).as("recall"),
        ratio(col("tp") * 2, col("tp") * 2 + col("fp") + col("fn")).as("f1"))
  }

  /** Soft dedup: instead of deleting exact duplicates, down-weight
    * them so a cluster of c identical copies contributes one
    * document's worth of training mass (the sampling-weight form of
    * exact dedup — keeps coverage, kills over-representation).
    * Per-doc weight = ⌊10⁶/c⌋ ppm, so downstream effective-token
    * accounting is an EXACT BIGINT sum — reproducible on any engine
    * and any partitioning, no cross-row float folds. One slim
    * (hash → count) shuffle; text never moves.
    */
  def softDedupWeights(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val withH = df.select(col(idCol), col(srcCol).as("source"),
      expr(s"cast(conv(substring(md5($textCol), 1, 15), 16, 10) as bigint)")
        .as("h"),
      size(tokens(textCol)).cast(LongType).as("n_toks"))
    val clusters = withH.groupBy(col("h")).agg(count(lit(1)).as("cluster_size"))
    withH.join(clusters, "h")
      .select(col(idCol), col("source"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"), col("n_toks"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (the KenLM recipe
    * at order 2): P(b|a) = (max(c(ab)−d, 0) + d·N1+(a·)·Pcont(b)) /
    * c(a·), with Pcont(b) = N1+(·b)/N1+(··) — the continuation counts
    * that make "francisco" cheap after "san" and expensive elsewhere.
    * Every count is an exact map-side-combined integer; the float
    * formula is a fixed sequence of scalar IEEE ops per BIGRAM (no
    * cross-row float folds), so probabilities replay bit-for-bit on
    * any engine. Count tables are vocab²-sized; nothing doc-sized
    * survives the first aggregate.
    */
  def kneserNeyBigrams(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75,
      topN: Int = 40): DataFrame = {
    val toks = df
      .select(col(idCol), tokens(textCol).as("toks"))
      // one-token docs make sequence(1, 0) DESCEND ([1, 0]) and
      // element_at(toks, 0) throw — same guard as the surprisal ops
      .where(size(col("toks")) >= 2)
    val bi = toks.select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"""
          .stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
      .where(col("a") =!= "" && col("b") =!= "")
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val fromA = bi.groupBy("a")
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("n1p_a"))
    val contB = bi.groupBy("b").agg(count(lit(1)).as("n1p_b"))
    val total = bi.agg(count(lit(1)).as("n1p_total"))
    bi.join(fromA, "a").join(contB, "b").crossJoin(broadcast(total))
      .withColumn("p_cont",
        col("n1p_b").cast(DoubleType) / col("n1p_total"))
      .withColumn("p_kn", round(
        (greatest(col("c_ab") - discount, lit(0.0))
          + lit(discount) * col("n1p_a") * col("p_cont")) / col("c_a"), 6))
      .orderBy(col("c_ab").desc, col("a"), col("b")).limit(topN)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("n1p_a"),
        col("n1p_b"), col("n1p_total"), round(col("p_cont"), 6).as("p_cont"),
        col("p_kn"))
  }

  /** Cross-lingual bitext candidate mining: translated page pairs
    * share the untranslatable tokens — numbers (dates, ids,
    * quantities). Each doc is keyed by its distinct ≥3-digit numeral
    * tokens; numerals appearing in 2..dfCap docs build a slim
    * inverted index ((numeral, id, lang) rows only — text never
    * shuffles); pairs in DIFFERENT languages sharing ≥ minShared rare
    * numerals surface as alignment candidates. The df cap bounds
    * bucket fan-out exactly like the containment index — a numeral on
    * every page (a year, a version) can never go quadratic.
    */
  def bitextCandidates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      minShared: Int = 2, dfCap: Int = 8): DataFrame = {
    val nums = df.select(col(idCol).as("id"), col(langCol).as("lang"),
        explode(array_distinct(
          expr(s"regexp_extract_all($textCol, '[0-9]{3,}', 0)"))).as("num"))
    val rare = nums.groupBy("num").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= dfCap)
      .select("num")
    val slim = nums.join(rare, "num")
    slim.as("x").join(slim.as("y"),
        col("x.num") === col("y.num") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.id").as("a"), col("x.lang").as("a_lang"),
        col("y.id").as("b"), col("y.lang").as("b_lang"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** PII redaction TRANSFORM (the rewrite counterpart of the detection
    * ops — Luhn/k-anonymity report, this one scrubs): emails →
    * [EMAIL], IPv4 literals → [IP], +international phone numbers →
    * [PHONE], remaining 13–16-digit runs (card/account shaped) →
    * [NUM]. Replacement ORDER is part of the contract — emails contain
    * dots and digits, IPs would otherwise be eaten by number rules.
    * Patterns stay in the Java∩RE2 regex subset so an oracle can run
    * them verbatim. Per-category counts are taken on the ORIGINAL
    * text. Pure per-row codegen'd regex work — scales with the scan,
    * no shuffle.
    */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+\\d[\\d-]{7,14}\\d"
    val num = "\\b\\d{13,16}\\b"
    df.withColumn("n_email", regexp_count(col(textCol), lit(email)))
      .withColumn("n_ip", regexp_count(col(textCol), lit(ip)))
      .withColumn("n_phone", regexp_count(col(textCol), lit(phone)))
      .withColumn("n_num", regexp_count(col(textCol), lit(num)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col(textCol), email, "[EMAIL]"),
              ip, "[IP]"),
            phone, "[PHONE]"),
          num, "[NUM]"))
  }

  /** Unicode-script profile: per-doc code-point counts for the major
    * scripts (Latin, Cyrillic, Greek, Han, Arabic) plus a dominant-
    * script label — the script-detection stage multilingual corpus
    * routing runs before language ID (a char-class histogram is
    * alphabet-level evidence, robust where stopword lists are not).
    * Counting = strip-to-script regex + code-point length, all
    * codegen'd per-row; dominant label via a fixed-priority CASE so
    * ties are deterministic. Scales with the scan, no shuffle.
    */
  def scriptProfile(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def cnt(script: String) =
      length(regexp_replace(col(textCol), s"[^\\p{Is$script}]", ""))
        .cast(LongType)
    df.select(col(idCol),
        cnt("Latin").as("n_latin"), cnt("Cyrillic").as("n_cyrillic"),
        cnt("Greek").as("n_greek"), cnt("Han").as("n_han"),
        cnt("Arabic").as("n_arabic"))
      .withColumn("dominant_script",
        when(col("n_latin") >= greatest(col("n_cyrillic"), col("n_greek"),
          col("n_han"), col("n_arabic")), lit("latin"))
        .when(col("n_cyrillic") >= greatest(col("n_greek"), col("n_han"),
          col("n_arabic")), lit("cyrillic"))
        .when(col("n_greek") >= greatest(col("n_han"), col("n_arabic")),
          lit("greek"))
        .when(col("n_han") >= col("n_arabic"), lit("han"))
        .otherwise(lit("arabic")))
  }

  /** Greedy BPE tokenizer training, fully distributed (r9/r10 ask —
    * formerly the d67 gate ran the merge rounds on the driver over the
    * collected vocabulary). Two scales, both bounded:
    *
    *   - corpus → word-count vocabulary (capped at `vocabCap` by
    *     count-desc, word-asc): the only corpus-sized stage, a
    *     hash-partitioned aggregate — exactly how industrial BPE
    *     trainers shard 100 TB.
    *   - each merge round: explode adjacent symbol pairs over the
    *     CACHED vocabulary, weighted count, deterministic argmax
    *     (count desc, then left/right symbol asc). Exactly ONE row
    *     reaches the driver per round; the merge applies as one
    *     literal non-overlapping replace (the double-space symbol
    *     encoding makes left-to-right greedy replacement a plain
    *     string replace). Round k's vocab is k narrow maps over the
    *     one cached base — no per-round persist, no driver loop over
    *     vocab entries.
    *
    * Returns (merge_rank, left_sym, right_sym, merged, pair_count).
    */
  def bpeTrain(docs: DataFrame, textCol: String = "text",
      rounds: Int = 6, vocabCap: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    val base = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w")).limit(vocabCap)
      // "key" -> "  k  e  y  ": double-space separators make one
      // literal replace of " l  r " -> " lr " merge ALL non-overlapping
      // pair occurrences left-to-right, the greedy BPE step
      .select(concat(lit("  "),
        regexp_replace(col("w"), "(.)", "$1  ")).as("sym"), col("cnt"))
      .persist()
    base.count() // materialize once; every round re-derives from cache
    var vocab = base
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (round <- 1 to rounds) {
      val top = vocab
        .select(expr("filter(split(sym, '  '), x -> x != '')").as("syms"),
          col("cnt"))
        .where(size(col("syms")) >= 2)
        .select(explode(expr("transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i - 1] AS l, syms[i] AS r))")).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), col("l"), col("r"))
        .limit(1).collect()(0)
      val (l, r, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((round.toLong, l, r, l + r, c))
      // literal (not regex) replace via lit() args so symbols holding
      // regex metacharacters or quotes survive
      vocab = vocab.withColumn("sym", call_function("replace",
        col("sym"), lit(s" $l  $r "), lit(s" $l$r ")))
    }
    base.unpersist(blocking = false)
    spark.createDataFrame(merges.result())
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
  }
}
