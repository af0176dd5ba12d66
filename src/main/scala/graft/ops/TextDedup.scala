package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Public deduplication API over arbitrary document DataFrames.
  *
  * Every operator takes a DataFrame with an id column and a text column
  * (names configurable, defaults `doc_id`/`text`) and returns a plain
  * DataFrame, so the ops compose with any source — the driver-gate
  * queries in [[graft.queries.PipelineQueries]] are thin bindings of
  * these functions to the test tables.
  *
  * Scale posture (the reason these exist as a library and not ad-hoc
  * SQL): candidate generation is always banded/bucketed — never an
  * O(n²) self-join; nothing wider than a hash or an id crosses a
  * shuffle during pair generation; verification re-joins the (few)
  * surviving pairs back to per-doc sketch tables. Hashing is
  * md5-derived via native Catalyst expressions
  * ([[graft.functions.BitSketchExpressions]]), so results are engine-
  * reproducible (the DuckDB oracle replays them) and the hot loops are
  * compiled, not interpreted lambdas.
  */
object TextDedup {

  /** CPU-spread for unsplittable inputs (optimization guide §2.5):
    * when the physical scan yields fewer partitions than the session's
    * parallelism — the driver's testdata is a SINGLE parquet row group,
    * so every scan is one task — hash-distribute the slim projection
    * across the cores and cut the plan so the optimizer cannot push
    * the expensive downstream expressions back below the exchange
    * (predicate pushdown happily rewrites a derived-column filter
    * through a bare repartition; measured on d101). On well-laid-out
    * input (≥ half the cores' worth of splits — any real table at
    * scale) this is a NO-OP: the exchange only exists when the input
    * cannot parallelize by itself, which is exactly when the guide
    * says to repartition right after the read. Call it on the slim
    * (id, text, keys) projection only, never on full rows.
    *
    * r13 scope note: only the mixed-language scorer (d101 — ten
    * per-row stopword-profile passes, NOT md5-bound) still uses this.
    * The r12 sketch-head call sites (jaccard/simhash/minhashLsh/
    * containment/winnowing) were removed after the Md5Kernel
    * specialization made their per-row work ~5× cheaper: interleaved
    * A/B then measured the spread flat-to-slower on every one of them
    * (wall) at 4-10× the task time — the exchange + eager checkpoint
    * now outweighs the serial-scan cost it used to hide.
    */
  private[graft] def spreadForCpu(df: DataFrame, key: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    // probe the physical split count on the internal-row RDD — no
    // external-row deserializer plan, unlike df.rdd
    if (df.queryExecution.toRdd.getNumPartitions * 2 >= n) df
    else {
      // bound the eager materialization: the cut pins the slim
      // projection in executor storage, so a single huge unsplittable
      // input (exactly the trigger case) would otherwise duplicate the
      // corpus into RAM/disk. Past the bound, keep the serial scan —
      // at that size the shuffle + pin costs more than the spread wins
      // and the memory pressure is real.
      val maxBytes =
        try spark.conf.get("spark.sql.graft.spreadMaxBytes", (4L << 30).toString).toLong
        catch { case _: Throwable => 4L << 30 }
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes > maxBytes) df
      else graft.core.Checkpoints.cut(df.repartition(n, col(key)))
    }
  }

  /** tokens + distinct word-3-gram shingles appended as `toks`/`shingles`. */
  def shingled(df: DataFrame, textCol: String = "text"): DataFrame = {
    graft.functions.BitSketchExpressions.register(df.sparkSession)
    df.withColumn("toks", split(lower(trim(col(textCol))), "\\s+"))
      .where(size(col("toks")) >= 3)
      .withColumn("shingles", expr("graft_shingles(toks)"))
  }

  /** Semi-supervised label propagation over a near-duplicate pair
    * graph: seed nodes carry a label in {-1, +1} (e.g. a handful of
    * human spam/keep verdicts), every other node starts neutral, and
    * for `iters` rounds each unclamped node adopts the SIGN of the sum
    * of its neighbors' labels (ties keep the previous label, seeds
    * stay clamped) — cheap label amplification across dup clusters: a
    * verdict on one copy condemns or saves its whole neighborhood.
    * Integer votes keep every round engine-reproducible.
    *
    * Scale shape: each round shuffles only slim (node, label) ints
    * over the edge list (same posture as [[connectedComponents]]);
    * per-round eager localCheckpoints pin the state table so the round
    * count bounds the plan depth, not 2^rounds re-execution.
    */
  def labelPropagation(pairs: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    // checkpointed pre-partitioned on the per-round join key, same
    // rationale as [[connectedComponents]]: rounds re-shuffle only the
    // (node, label) state, never the edge list. A prepared (src, dst)
    // input from [[edgeCache]] is used AS-IS — composed pipelines pay
    // the pair pass once for all graph consumers.
    val edges = preparedEdges(pairs)
      .getOrElse(edgeCache(pairs, eager = true))
    val sd = seeds.select(col("node"),
      col("lab").cast(IntegerType).as("seed_lab"))
    var state = edges.select(col("src").as("node")).distinct()
      .join(sd, Seq("node"), "left")
      .select(col("node"), coalesce(col("seed_lab"), lit(0)).as("lab"),
        col("seed_lab").isNotNull.as("clamped"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val votes = edges
        .join(state.select(col("node").as("dst"), col("lab").as("dlab")), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("dlab")).as("vote"))
      // LAZY checkpoint: cuts the logical lineage immediately (the
      // round count bounds plan depth) but materializes only when the
      // next round — or the final consumer — computes, so fixed-iter
      // propagation pays ONE job, not one eager job per round
      state = state.join(votes, Seq("node"), "left")
        .select(col("node"),
          when(col("clamped"), col("lab"))
            .when(coalesce(col("vote"), lit(0L)) > 0, lit(1))
            .when(coalesce(col("vote"), lit(0L)) < 0, lit(-1))
            .otherwise(col("lab")).as("lab"),
          col("clamped"))
        .localCheckpoint(false)
    }
    state
  }

  /** The shared pair pass for composed graph ops: symmetrized edge list
    * cached PRE-PARTITIONED on the per-round join key. Build it once
    * from a candidate generator's (a, b) pairs and hand the result to
    * [[connectedComponents]], [[labelPropagation]], and any other
    * consumer of the same pair set — each recognizes the prepared
    * (src, dst) shape and skips its own pair pass.
    */
  def edgeCache(pairs: DataFrame, eager: Boolean = true): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint(eager)

  /** A DataFrame is a prepared edge list iff its columns are exactly
    * (src, dst) — the [[edgeCache]] contract; raw candidate pairs come
    * as (a, b).
    */
  private def preparedEdges(pairs: DataFrame): Option[DataFrame] =
    if (pairs.columns.toSeq == Seq("src", "dst")) Some(pairs) else scala.None

  /** Winnowing fingerprint selection (the MOSS algorithm): hash every
    * word-k-gram, slide a window of `w` consecutive hashes, and keep
    * the minimum of each window — on ties the RIGHTMOST minimum, the
    * rule that makes selections agree across overlapping windows.
    * Guarantees: any shared run of w+k-1 tokens yields at least one
    * shared fingerprint, and the expected density is 2/(w+1) — a
    * position-robust sketch MinHash (whole-doc) and SimHash (global
    * bits) don't give. Returns exploded (doc_id, pos, h) fingerprints.
    *
    * All selection is per-row array math in codegen (no shuffle here);
    * downstream pair generation shuffles only slim (hash, id) rows
    * with a df cap — same posture as the other candidate generators.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 4, w: Int = 5): DataFrame = {
    // Selection is deliberately SCALAR codegen: per window the min and
    // its rightmost index come from element_at/least/CASE chains, not
    // slice()+array_min — a slice per window is an ArrayData copy per
    // window per doc, the same allocation wall the d43 posting-list
    // rebuild documented (STRESS.md). The sequence bounds are floored
    // at 1 so the expressions stay TOTAL: InferFiltersFromGenerate
    // derives a size(sel) > 0 predicate from the explode and predicate
    // pushdown may evaluate it on rows the length guard dropped — a
    // descending sequence(1, 0) would feed downstream ops a 0 index.
    val gram = (0 until k).map(o => s"element_at(toks, i + $o)")
      .mkString("concat_ws(' ', ", ", ", ")")
    val winMin = (0 until w).map(o => s"element_at(grams, p + $o)")
      .mkString("least(", ", ", ")")
    val rightmost = (0 until w).map(o =>
      s"if(element_at(grams, p + $o) = $winMin, ${o + 1}, 0)")
      .mkString("greatest(", ", ", ")")
    docs.select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), "\\s+").as("toks"))
      .where(size(col("toks")) >= k + w - 1)
      .withColumn("grams", expr(
        s"""transform(sequence(1, greatest(size(toks) - ${k - 1}, 1)),
           |  i -> cast(conv(substring(md5($gram), 1, 15), 16, 10) as bigint))"""
          .stripMargin))
      // the Generate below is a deliberate projection-collapse barrier:
      // above it `grams` is an ATTRIBUTE, so the per-window min/argmin
      // chains read the materialized array — CollapseProject would
      // otherwise substitute the whole hashing transform into every one
      // of their element_at references and recompute it per window
      .select(col("doc_id"), col("grams"),
        explode(expr(s"sequence(1, greatest(size(grams) - ${w - 1}, 1))"))
          .as("p"))
      .select(col("doc_id"),
        expr(s"cast(p - 1 + $rightmost as bigint)").as("pos"),
        expr(s"element_at(grams, p - 1 + $rightmost)").as("h"))
      .distinct()
  }

  /** Candidate pairs from shared winnowing fingerprints: distinct
    * (doc, hash) rows bucket on the hash; buckets seen in 2..dfCap
    * docs pair their members (a < b); pairs sharing at least
    * `minShared` fingerprints survive. The df cap drops stop-
    * fingerprints exactly like the containment index — no bucket ever
    * fans out quadratically.
    */
  def winnowingPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 4, w: Int = 5, dfCap: Int = 8,
      minShared: Int = 2, materialize: Boolean = true): DataFrame = {
    // the fingerprint frame feeds THREE consumers (the df filter and
    // both sides of the pair self-join); the gram hashing + window-min
    // selection behind it is the expensive per-row work, so run it
    // exactly once — the checkpointed rows are slim (doc_id, h) longs,
    // never token/gram arrays (d124's plan-audit invariant). The
    // before/after plans (plans/r12/d124_*) show 16 parquet scans
    // collapse to the checkpoint's single computation.
    // materialize=false keeps the fully lazy shape for composition and
    // plan audits, like the sibling pair generators.
    // (r13: the r12 spreadForCpu head was REMOVED here and on the
    // sibling generators — after the Md5Kernel specialization the
    // hashing is ~5× cheaper and the spread's exchange + eager
    // checkpoint measured flat-to-slower on every md5-bound head,
    // at 4-10× the task time; see OPTIMIZATION_r13.md)
    val hd0 = winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc_id"), col("h")).distinct()
    val hd = if (materialize) graft.core.Checkpoints.cut(hd0) else hd0
    val ok = hd.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= dfCap)
      .select("h")
    val slim = hd.join(ok, "h")
    slim.select(col("h"), col("doc_id").as("a"))
      .join(slim.select(col("h"), col("doc_id").as("b")), "h")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Exact duplicate groups by (optionally whitespace-normalized)
    * content hash: one row per distinct content with the smallest id as
    * the retained representative. One shuffle, on the hash.
    */
  def exactDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", normalize: Boolean = false): DataFrame = {
    val content =
      if (normalize) regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
      else col(textCol)
    df.groupBy(md5(content).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Line-level boilerplate removal within a group (site/domain): a
    * line is boilerplate when it appears in at least `minDf` DISTINCT
    * docs of the same group — cookie banners, nav bars, footers — and
    * is cut from every doc while the doc's unique prose survives. This
    * is the line-dedup stage web-scale corpora run between exact-doc
    * dedup and quality filtering (doc-level dedup can't touch a footer
    * glued to unique text).
    *
    * Scale shape: the df-count shuffles only slim (group, line-hash,
    * doc-id) rows; the boilerplate SET is tiny by construction (lines
    * repeated across ≥ minDf docs) so it collapses to one sorted
    * hash-array per group and broadcasts — each doc then filters its
    * own lines locally with zero reassembly shuffle. Nothing
    * corpus-sized recirculates; text crosses no exchange.
    */
  def boilerplateLines(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", groupCol: String = "source",
      minDf: Int = 5): DataFrame = {
    val slim = docs.select(col(groupCol).as("grp"),
        explode(split(col(textCol), "\n")).as("line"), col(idCol).as("did"))
      .select(col("grp"), md5(col("line")).as("lh"), col("did"))
    val bpSets = slim.groupBy("grp", "lh")
      .agg(countDistinct(col("did")).as("df"))
      .where(col("df") >= minDf)
      .groupBy("grp")
      .agg(sort_array(collect_list(col("lh"))).as("bph"))
    docs
      .join(broadcast(bpSets), docs(groupCol) === bpSets("grp"), "left")
      .withColumn("lines", split(col(textCol), "\n"))
      .withColumn("bph0",
        coalesce(col("bph"), expr("cast(array() as array<string>)")))
      .withColumn("kept",
        filter(col("lines"), l => !array_contains(col("bph0"), md5(l))))
      .withColumn("kept_text", array_join(col("kept"), "\n"))
      .select(col(idCol), col(groupCol),
        size(col("lines")).cast(LongType).as("n_lines"),
        size(col("kept")).cast(LongType).as("n_kept"),
        (size(col("lines")) - size(col("kept"))).cast(LongType).as("n_dropped"),
        length(col("kept_text")).cast(LongType).as("kept_chars"),
        md5(col("kept_text")).as("kept_md5"))
  }

  /** MinHash-LSH near-duplicate candidate pairs with exact-Jaccard
    * verification: 32 affine-permutation minhashes over word-3-gram
    * shingles, banded 8×4; pairs sharing any band bucket are verified
    * (estimated Jaccard from the sketch AND exact Jaccard from the
    * shingle sets). Returns (a, b, est_jaccard, jaccard).
    *
    * Candidate generation shuffles SLIM (band, bucket-hash, id) rows
    * only; the surviving pairs re-join the persisted per-doc sketch
    * table once per side — the shape that holds at 100 TB (carrying
    * shingle arrays through the banded self-join does not).
    *
    * `materialize = true` (default) eagerly localCheckpoints the (tiny)
    * pair result and releases the per-doc sketch cache before
    * returning — a long-lived JVM running many queries must not
    * accrete per-call persist entries (ContextCleaner reclaims
    * checkpoint blocks once the result is unreferenced; persist
    * entries it won't). Pass false to get the lazy plan (plan audits).
    */
  /** Deduped candidate pairs from banded (band, bh, doc_id) rows in ONE
    * banded-table exchange (r10 ask #3): a map-side-combined groupBy
    * collects each bucket's sorted member ids and intra-bucket pairs
    * explode from the capped list. The former banded SELF-JOIN
    * exchanged the banded table twice (once per join side) before the
    * pair dedup. Interleaved A/B at the 4M-doc ceiling (35.2M banded
    * rows, persisted input, DedupStressSpec "pairgen A/B") measured the
    * two shapes equivalent warm (join 13.3 s vs agg 12.4 s, identical
    * 401,801-pair output) — the r9 minhash@4M growth was the CPU-bound
    * sketch stage plus platform throttle, not this stage — so the
    * one-exchange shape wins on data movement: on a real cluster it
    * ships the 100 TB-scaled banded table across the network once, not
    * twice. A streaming repartition+mapPartitions variant was REJECTED:
    * it leaves whole-stage codegen and measured no better. `cap` bounds
    * the per-bucket pair fan-out (≤ cap²/2) against adversarial hot
    * buckets; ordinary near-dup clusters sit far below it, a capped
    * bucket drops only within-bucket candidates past the first `cap`
    * sorted ids, and the other 7 bands still propose their pairs.
    * Sorted ids make a < b by construction.
    *
    * MEMORY bound + OBSERVABLE truncation (r12, r11 ADVICE): bucket
    * membership is pre-limited by a windowed row_number over the same
    * (band, bh) keys BEFORE the collect_list, so an adversarial hot
    * bucket contributes at most cap+1 rows to any one aggregate buffer
    * instead of materializing the whole bucket in a task (the +1 keeps
    * truncation detectable after the slice). The window's required
    * distribution IS the aggregate's — hash(band, bh) — so candidate
    * generation still crosses the network exactly once
    * (`PlanAuditSpec` pins both the single exchange and the row_number
    * pre-limit). Capped buckets are counted through a Dataset
    * observation (no extra job): named "graft_bucket_pairs"
    * (buckets, capped_buckets) for listeners, and minhashLshPairs'
    * eager path logs a warning when the count is nonzero.
    */
  private def bucketPairs(banded: DataFrame, cap: Int,
      obs: Option[org.apache.spark.sql.Observation] = scala.None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val limited = banded
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap + 1)
      .drop("__rn")
    val buckets0 = limited.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("all_ids"))
      .where(size(col("all_ids")) >= 2)
    val metrics = Seq(
      count(lit(1)).as("buckets"),
      sum(when(size(col("all_ids")) > cap, 1L).otherwise(0L)).as("capped_buckets"))
    val buckets = obs match {
      case Some(o) => buckets0.observe(o, metrics.head, metrics.tail: _*)
      case scala.None =>
        buckets0.observe("graft_bucket_pairs", metrics.head, metrics.tail: _*)
    }
    buckets
      .withColumn("ids", slice(col("all_ids"), 1, cap))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
  }

  def minhashLshPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", estThreshold: Double = 0.5,
      verifyThreshold: Double = 0.3, materialize: Boolean = true,
      bucketCap: Int = 4096): DataFrame = {
    // the per-doc sketch cache is SLIM by design: shingles are hashed
    // to 60-bit longs before caching (injective in practice at per-doc
    // set sizes; exact Jaccard over the hashed sets equals the string-
    // set value), so the 1M-doc cache is ~50 longs/doc instead of ~50
    // 20-char strings — the string-array variant stopped fitting at
    // the 1M stress ceiling and went super-linear on cache eviction
    val sh = shingled(docs.select(col(idCol), col(textCol)), textCol)
      .withColumn("mh", expr("graft_minhash32(shingles)"))
      .withColumn("shh", expr("transform(shingles, x -> graft_md5_60(x))"))
      .select(col(idCol).as("doc_id"), col("mh"), col("shh"))
      .persist()
    val banded = sh.select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, 7),
            |  b -> struct(b as band, graft_md5_60(concat_ws(',', slice(mh, b*4+1, 4))) as bh))""".stripMargin)).as("bd"))
      .select(col("doc_id"), col("bd.band"), col("bd.bh"))
    val obs =
      if (materialize) Some(org.apache.spark.sql.Observation()) else scala.None
    val pairs = bucketPairs(banded, bucketCap, obs)
    val out = pairs
      .join(sh.select(col("doc_id").as("a"), col("mh").as("mha"), col("shh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("mh").as("mhb"), col("shh").as("shb")), "b")
      .withColumn("est_jaccard", expr(
        "cast(aggregate(zip_with(mha, mhb, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v) as double) / 32.0"))
      .withColumn("jaccard", expr(
        "cast(size(array_intersect(sha, shb)) as double) / cast(size(array_union(sha, shb)) as double)"))
      .where(col("est_jaccard") >= estThreshold && col("jaccard") >= verifyThreshold)
      .select(col("a"), col("b"), col("est_jaccard"), col("jaccard"))
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      sh.unpersist()
      // capped buckets are a RECALL change (within-bucket candidates
      // past the cap are dropped) — surface it instead of staying
      // silent. The metrics future is already complete here (the eager
      // localCheckpoint ran the observed subtree); the zero-wait poll
      // only guards against an action-reporting path that skips
      // observation delivery — then we skip the log, never block.
      obs.flatMap(_.future.value).collect { case scala.util.Success(row) =>
        val capped = row.getAs[Long]("capped_buckets")
        if (capped > 0L)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"minhashLshPairs: $capped of ${row.getAs[Long]("buckets")} LSH " +
              s"buckets exceeded bucketCap=$bucketCap; within-bucket " +
              "candidates past the cap were dropped (recall, not correctness)")
      }
      result
    }
  }

  /** Candidate-generation recall QA for the MinHash index (the d44
    * gate): of the true near-dup pairs (blocked exact Jaccard ≥
    * `truthThreshold`), what fraction did the 8×4 banding surface as
    * candidates? Returns ONE row (n_true_pairs, n_found, recall).
    *
    * The shingle table — tokenize, 3-gram, minhash — is computed and
    * persisted ONCE and shared by the exact-Jaccard truth pass, the
    * banded candidate pass, and the recall denominator. Running the
    * two passes as independent ops re-shingled the corpus per pass
    * (the round-7 perf flag on d44); this is the shared-scan shape
    * that holds at 100 TB, and the same hygiene contract as the other
    * dedup ops (eager checkpoint of the 1-row result, cache released
    * before returning).
    */
  def lshRecall(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", truthThreshold: Double = 0.5,
      blockingCols: Seq[String] = Seq("lang")): DataFrame = {
    graft.functions.BitSketchExpressions.register(docs.sparkSession)
    val blockKeys = blockingCols :+ "first_tok" :+ "n_toks_bucket"
    // shingles are hashed to 60-bit longs BEFORE caching/exploding —
    // 8-byte join keys instead of ~20-char strings, injective in
    // practice at per-doc set sizes (the same argument the d07 verify
    // path relies on), so the exact-Jaccard truth set is unchanged
    val sh = shingled(docs, textCol)
      .withColumn("first_tok", expr("element_at(toks, 1)"))
      .withColumn("n_toks_bucket", expr("cast(size(toks) div 8 as int)"))
      .withColumn("mh", expr("graft_minhash32(shingles)"))
      .withColumn("shh", expr("transform(shingles, x -> graft_md5_60(x))"))
      .select((Seq(col(idCol).as("doc_id"), col("shh"), col("mh")) ++
        blockKeys.map(col)): _*)
      .persist()
    // truth side: blocked exact Jaccard (identical semantics to
    // [[jaccardPairs]] — same blocking keys, same shingle space)
    val sizes = sh.select(col("doc_id"), size(col("shh")).as("n_sh"))
    val ex = sh.select((blockKeys.map(col) :+ col("doc_id") :+
      explode(col("shh")).as("s")): _*)
    val truth = ex.withColumnRenamed("doc_id", "a")
      .join(ex.withColumnRenamed("doc_id", "b"), blockKeys :+ "s")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), "b")
      .where(col("shared").cast(DoubleType)
        / (col("na") + col("nb") - col("shared")).cast(DoubleType)
        >= truthThreshold)
      .select(col("a"), col("b"))
    // candidate side: the 8×4 banding over the SAME sketch column —
    // with no verification thresholds every banded pair counts, so the
    // per-pair sketch re-join of minhashLshPairs is unnecessary here
    val banded = sh.select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, 7),
            |  b -> struct(b as band, graft_md5_60(concat_ws(',', slice(mh, b*4+1, 4))) as bh))""".stripMargin)).as("bd"))
      .select(col("doc_id"), col("bd.band"), col("bd.bh"))
    val cand = bucketPairs(banded, cap = 4096).withColumn("found", lit(1L))
    val out = truth.join(cand, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum(col("found")), lit(0L)).as("n_found"),
        // small-int IEEE division is exactly rounded → engine-identical
        (coalesce(sum(col("found")), lit(0L)).cast(DoubleType)
          / count(lit(1)).cast(DoubleType)).as("recall"))
    val result = out.localCheckpoint(true)
    sh.unpersist()
    result
  }

  /** SimHash near-duplicate pairs, EXACT for `maxHamming` ≤ 3: 64-bit
    * token-set simhash, candidates via the two 32-bit halves plus
    * single-bit-flip multi-probe (pigeonhole: hamming ≤ 3 means one
    * half differs in ≤ 1 bit), verified with a popcount. Returns
    * (a, b, hamming).
    *
    * Bucket-cardinality math: 32-bit keys give 4.3×10⁹ buckets (≲1
    * exact row each at 10⁹ docs); the 33× probe fan-out is linear in n
    * and each probe row is 3 longs — unlike 16-bit band keys, whose
    * 65,536 buckets degrade toward quadratic within-bucket pairing.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      materialize: Boolean = true): DataFrame = {
    require(maxHamming <= 3,
      "half-key + 1-bit multi-probe candidates are exact only for hamming <= 3")
    graft.functions.BitSketchExpressions.register(docs.sparkSession)
    val withSim = docs.select(col(idCol), col(textCol))
      .withColumn("toks", expr(s"array_distinct(split(lower(trim($textCol)), '\\\\s+'))"))
      .where(size(col("toks")) >= 3)
      .withColumn("hs", expr("transform(toks, t -> graft_md5_60(t))"))
      .withColumn("sim", expr("graft_simhash64(hs)"))
      .select(col(idCol).as("doc_id"), col("sim"))
      .persist()
    val exacts = withSim.select(col("doc_id").as("b"), col("sim").as("simb"),
        explode(expr(
          "transform(sequence(0, 1), h -> struct(h as half, shiftright(sim, h*32) & 4294967295L as key))")).as("ex"))
      .select(col("b"), col("simb"), col("ex.half"), col("ex.key"))
    val probes = withSim.select(col("doc_id").as("a"), col("sim").as("sima"),
        explode(expr(
          """flatten(transform(sequence(0, 1), h ->
            |  transform(sequence(-1, 31), f ->
            |    struct(h as half,
            |      case when f = -1 then shiftright(sim, h*32) & 4294967295L
            |           else (shiftright(sim, h*32) & 4294967295L) ^ shiftleft(1L, f) end as key))))""".stripMargin)).as("pr"))
      .select(col("a"), col("sima"), col("pr.half"), col("pr.key"))
    val out = probes.join(exacts, Seq("half", "key")).where(col("a") < col("b"))
      .dropDuplicates("a", "b")
      .withColumn("hamming", expr("cast(bit_count(sima ^ simb) as bigint)"))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      withSim.unpersist()
      result
    }
  }

  /** Blocked n-gram Jaccard pairs (no sketch): explode to slim
    * (blocking-keys, shingle, id) rows, equi-join on the shingle
    * itself, and compute jaccard = shared / (|A| + |B| − shared).
    * Blocking = caller columns (e.g. language) + first token + token-
    * count bucket. No shingle ARRAY ever enters a join. Returns
    * (a, b, jaccard) with jaccard ≥ `threshold`.
    */
  def jaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", blockingCols: Seq[String] = Seq("lang"),
      threshold: Double = 0.3, materialize: Boolean = true): DataFrame = {
    val blockKeys = blockingCols :+ "first_tok" :+ "n_toks_bucket"
    val base = docs.select(
      (Seq(idCol, textCol) ++ blockingCols).distinct.map(col): _*)
    val sh = shingled(base, textCol)
      .withColumn("first_tok", expr("element_at(toks, 1)"))
      .withColumn("n_toks_bucket", expr("cast(size(toks) div 8 as int)"))
      .select((Seq(col(idCol).as("doc_id"), col("shingles")) ++
        blockKeys.map(col)): _*)
      .persist()
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n_sh"))
    val ex = sh.select((blockKeys.map(col) :+ col("doc_id") :+
      explode(col("shingles")).as("sh")): _*)
    val keyCols = blockKeys :+ "sh"
    val out = ex.withColumnRenamed("doc_id", "a")
      .join(ex.withColumnRenamed("doc_id", "b"), keyCols)
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), "b")
      .withColumn("jaccard", col("shared").cast(DoubleType)
        / (col("na") + col("nb") - col("shared")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      sh.unpersist()
      result
    }
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo's classic
    * merge/purge blocking): docs sort by a normalized-prefix key; each
    * doc pairs with the next `window` docs in sort order, verified with
    * exact token-set Jaccard. Distributed shape: the sort runs INSIDE
    * prefix blocks (`Window.partitionBy(blk)`), so no global single-
    * partition window exists — pairs whose sort keys straddle a block
    * boundary are missed, the standard distributed-SNM trade handled in
    * practice by multi-pass with rotated keys. Pair generation is
    * `lead()` over slim (id, key) rows — never an explode of content,
    * never all-pairs; the token arrays join back once per side.
    * Returns (a, b, jaccard) with a < b and jaccard ≥ `minJaccard`.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val keyed = docs.select(col(idCol).as("doc_id"), norm.as("norm"))
      .select(col("doc_id"), substring(col("norm"), 1, 24).as("sk"),
        substring(col("norm"), 1, 6).as("blk"))
    val toks = docs.select(col(idCol).as("doc_id"),
      array_distinct(split(lower(trim(col(textCol))), "\\s+")).as("toks"))
    val w = Window.partitionBy(col("blk")).orderBy(col("sk"), col("doc_id"))
    val pairs = keyed
      .withColumn("nexts",
        array((1 to window).map(i => lead(col("doc_id"), i).over(w)): _*))
      .select(col("doc_id").as("x"), explode(col("nexts")).as("y"))
      .where(col("y").isNotNull)
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    pairs
      .join(toks.select(col("doc_id").as("a"), col("toks").as("ta")), "a")
      .join(toks.select(col("doc_id").as("b"), col("toks").as("tb")), "b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard", col("inter").cast(DoubleType)
        / (size(col("ta")) + size(col("tb")) - col("inter")).cast(DoubleType))
      .where(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Exact-substring near-dup pairs (Lee et al.'s ExactSubstr at token
    * granularity): every rolling 8-token window is fingerprinted with
    * double Rabin rolling hashes (one md5 per TOKEN + O(1) per window
    * — [[graft.functions.SketchKernels.rollingWindowHashes]] — vs one
    * md5 over W concatenated tokens per window); windows are then
    * SAMPLED content-defined (keep wh mod `sampleMod` == 0 — both
    * docs of a shared span keep exactly the same windows, the
    * winnowing-style trick that cuts the inverted index `sampleMod`×
    * without per-engine randomness); windows occurring in more than
    * `dfCap` docs are dropped BEFORE pairing (stop-window pruning —
    * boilerplate phrases can't fan out); docs sharing ≥ `minShared`
    * surviving windows pair up. The inverted-index join carries only
    * (hash, id) rows; no token array crosses a shuffle. Returns
    * (a, b, shared_windows). `sampleMod = 1` disables sampling for
    * exact window-level counts.
    */
  def spanPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8, dfCap: Int = 32,
      minShared: Int = 3, sampleMod: Int = 1,
      materialize: Boolean = true): DataFrame = {
    require(windowTokens == 8, "rolling fingerprints are pinned to 8-token windows")
    graft.functions.BitSketchExpressions.register(docs.sparkSession)
    val wins = docs
      .withColumn("toks", split(lower(trim(col(textCol))), "\\s+"))
      .where(size(col("toks")) >= windowTokens)
      .select(col(idCol).as("doc_id"), explode(expr(
        s"""filter(array_distinct(graft_rolling8(
           |    transform(toks, t -> graft_md5_60(t) % 2147483647))),
           |  h -> h % $sampleMod = 0)""".stripMargin)).as("wh"))
    val rare = wins.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
    // pair generation WITHOUT a self-join: the df pre-filter caps every
    // posting list at dfCap, so the pairs of one window are generated
    // locally from its collected id list (≤ dfCap·(dfCap−1)/2 pairs).
    // The join output is already hash-partitioned by wh, so the groupBy
    // adds no exchange — one shuffle of slim (wh, id) rows replaces the
    // two shuffles + persist of the pruned⋈pruned self-join. The df
    // filter runs BEFORE collect_list, so no aggregation buffer ever
    // holds a hot window's full posting list.
    val out = wins.join(rare.select("wh"), "wh")
      .groupBy(col("wh"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    j -> struct(element_at(ids, i) AS a, j AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared_windows"))
      .where(col("shared_windows") >= minShared)
    // checkpoint-only materialization: collect_list's sort-based
    // fallback (default 128-key threshold) is the RIGHT strategy for a
    // mostly-unique window stream — hash mode would allocate one
    // buffer object per key (~tens of millions) and measured 15–30×
    // slower at the 250k stress size from GC alone
    if (!materialize) out else out.localCheckpoint(true)
  }

  /** Longest shared verbatim token-span per doc pair (the ExactSubstr
    * LENGTH metric — [[spanPairs]] finds which pairs share windows,
    * this measures how long the longest copy is, the number behind
    * "≥ N-token overlap" decontamination rules). A shared span of L
    * tokens produces L−7 consecutive window matches on ONE diagonal
    * (posA − posB constant), so the measurement is gaps-and-islands
    * over (pair, diagonal): only (a, b, pa, pb) ints from the
    * df-capped inverted index ever shuffle, token arrays never cross
    * an exchange. Stop-window pruning (df > dfCap, plus singletons)
    * may split a run through a hot window — deterministic, and an
    * under- not over-estimate. Returns (a, b, max_span, n_long_spans)
    * for pairs with max_span ≥ minSpan.
    */
  def sharedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dfCap: Int = 32, minSpan: Int = 16,
      materialize: Boolean = true): DataFrame = {
    graft.functions.BitSketchExpressions.register(docs.sparkSession)
    val wins = docs
      .withColumn("toks", split(lower(trim(col(textCol))), "\\s+"))
      .where(size(col("toks")) >= 8)
      .select(col(idCol).as("doc_id"), posexplode(expr(
        "graft_rolling8(transform(toks, t -> graft_md5_60(t) % 2147483647))"))
        .as(Seq("pos", "wh")))
    val winsM = if (materialize) wins.persist() else wins
    val rare = winsM.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= dfCap).select("wh")
    val pw = winsM.join(rare, "wh")
    val matches = pw.select(col("wh"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(pw.select(col("wh"), col("doc_id").as("b"), col("pos").as("pb")), "wh")
      .where(col("a") < col("b"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy(col("a"), col("b"), col("diag")).orderBy(col("pa"))
    val out = matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .withColumn("span_toks", col("run") + lit(7))
      .groupBy(col("a"), col("b"))
      .agg(max(col("span_toks")).as("max_span"),
        sum(when(col("span_toks") >= minSpan, 1L).otherwise(0L)).as("n_long_spans"))
      .where(col("max_span") >= minSpan)
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      winsM.unpersist()
      result
    }
  }

  /** ExactSubstr CUT: remove duplicated verbatim spans from the
    * HIGHER-id doc of each sharing pair (keep-first policy) — the
    * action step after [[sharedSpans]] measures. Candidate generation
    * is identical (df-capped rolling-window inverted index, islands
    * per (pair, diagonal) — only (a, b, pos) ints shuffle); runs of
    * ≥ `minSpan` tokens become removal intervals on the b side, which
    * may overlap across partners/diagonals — coverage is resolved
    * per token, so overlapping spans never double-remove.
    *
    * Returns one row per AFFECTED doc: (doc_id, n_toks, n_spans,
    * n_removed_toks, new_md5) where new_md5 hashes the space-joined
    * surviving tokens (the rewritten text, pinned without shipping
    * it).
    */
  def spanCutRewrite(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dfCap: Int = 32, minSpan: Int = 16,
      materialize: Boolean = true): DataFrame = {
    graft.functions.BitSketchExpressions.register(docs.sparkSession)
    val toksDf = docs
      .withColumn("toks", split(lower(trim(col(textCol))), "\\s+"))
      .select(col(idCol).as("doc_id"), col("toks"))
    val wins = toksDf.where(size(col("toks")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        "graft_rolling8(transform(toks, t -> graft_md5_60(t) % 2147483647))"))
        .as(Seq("pos", "wh")))
    val winsM = if (materialize) wins.persist() else wins
    val rare = winsM.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= dfCap).select("wh")
    val pw = winsM.join(rare, "wh")
    val matches = pw.select(col("wh"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(pw.select(col("wh"), col("doc_id").as("b"), col("pos").as("pb")), "wh")
      .where(col("a") < col("b"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy(col("a"), col("b"), col("diag")).orderBy(col("pb"))
    val runs = matches
      .withColumn("grp", col("pb") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"), min(col("pb")).as("pb0"))
      .where(col("run") + lit(7) >= minSpan)
    // removal intervals in 1-based token positions of doc b; the
    // per-doc interval list is bounded by dfCap partners — small
    val ivs = runs.select(col("b").as("doc_id"),
        struct((col("pb0") + 1).as("s"),
          (col("pb0") + col("run") + lit(7)).as("e")).as("iv"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("iv")).as("ivs"), count(lit(1)).as("n_spans"))
    val out = ivs.join(toksDf, "doc_id")
      .withColumn("keep_idx", expr(
        "filter(sequence(1, size(toks)), i -> size(filter(ivs, v -> i >= v.s and i <= v.e)) = 0)"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_toks"),
        col("n_spans"),
        (size(col("toks")) - size(col("keep_idx"))).cast(LongType).as("n_removed_toks"),
        md5(expr("array_join(transform(keep_idx, i -> element_at(toks, i)), ' ')"))
          .as("new_md5"))
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      winsM.unpersist()
      result
    }
  }

  /** Asymmetric containment candidates (doc-inside-doc, the
    * quote-and-comment case Jaccard misses): candidates come from a
    * shingle inverted index with stop-shingle pruning, built entirely
    * from TUNGSTEN operators — no per-key object buffers anywhere:
    *
    *  1. df per shingle is a plain codegen count over slim
    *     (shingle-hash, id) longs.
    *  2. Only NON-SINGLETON shingles enter the keys table (pair keys
    *     with 2 ≤ df ≤ dfCap, saturated "hot" keys above the cap) —
    *     bounded by corpus repetition, tiny on mostly-unique corpora.
    *  3. Ordered pairs come from an equi-SELF-JOIN of the pruned
    *     postings on the shingle hash (fan-out ≤ dfCap per shingle;
    *     both directions — containment is asymmetric).
    *  4. Per-doc surviving-shingle counts are one pass: count all
    *     shingles minus hot-key hits via a left join's null-count.
    *
    * Earlier generations (see STRESS.md): a count window shuffle-sorts
    * the whole posting stream (round-5 ~7× regression); a df join-back
    * that still built posting lists with collect_list sorted two
    * corpus-sized relations (8.6× stress growth); a saturating
    * capped-list TypedImperativeAggregate bounded the buffers but
    * still allocated ONE BUFFER OBJECT PER DISTINCT SHINGLE —
    * ~100M allocations at the 1M-doc stress ceiling, a GC wall
    * (14–24× growth). Generation 4 has no object aggregation at all.
    *
    * Returns (contained_id, container_id, shared, na, nb) where
    * shared·100 ≥ na·minContainPct and na ≥ minShingles.
    */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dfCap: Int = 32,
      minContainPct: Int = 90, minShingles: Int = 10,
      sampleMod: Int = 1, materialize: Boolean = true): DataFrame = {
    graft.functions.BitSketchExpressions.register(docs.sparkSession)
    // `sampleMod` > 1 turns on CONTENT-DEFINED shingle sampling: only
    // shingles whose 60-bit hash ≡ 0 (mod sampleMod) enter the posting
    // stream — both docs of a truly contained pair keep exactly the
    // same surviving shingles (winnowing-style, no randomness), so the
    // containment ratio over the sampled space is an unbiased estimate
    // of the full-space ratio, exact at ratio 1. Chernoff:
    // P(|p̂ − p| ≥ ε) ≤ 2·exp(−2ε²·na'), so with minShingles applied
    // to the SAMPLED na (na' ≥ 10) a true 100% wrapper is never lost
    // and a borderline-90% pair misclassifies with probability
    // ≤ 2e^(−2·0.1²·10) ≈ bounded, shrinking fast with doc size.
    // Cost: postings shrink sampleMod× (cache bytes AND Σdf² pair
    // fan-out) — the d43 ceiling lever. Deterministic, so the DuckDB
    // oracle replicates it bit-for-bit.
    val exAll = shingled(docs.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol).as("doc_id"),
        explode(expr("transform(shingles, x -> graft_md5_60(x))")).as("sh"))
    val ex = (if (sampleMod > 1) exAll.where(pmod(col("sh"), lit(sampleMod)) === 0)
      else exAll)
      .persist() // slim (long, long); feeds keys, pair join, np
    val keys0 = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
      .select(col("sh"), (col("df") > dfCap).as("hot"))
    // the non-singleton keys table feeds two branches — materialize it
    // once (eager checkpoint; with materialize=false the audit path
    // keeps the lazy plan and recomputes the count per branch).
    // Two rejected round-7 variants, both measured at the 1M ceiling:
    // a LAZY keys persist (one job, ~0.3s faster at gate scale) let
    // the branch consumers race the cache and went 47.6s/6.7×; a
    // flagged-join that cached the joined posting stream doubled the
    // cached bytes and went 31.6s/6.2×. The eager checkpoint holds
    // 28s/3.8× — keep the slim (long, long) cache as the only
    // corpus-sized resident.
    val keys = if (materialize) keys0.localCheckpoint(true) else keys0
    val pairKeys = keys.where(!col("hot")).select("sh")
    val hotKeys = keys.where(col("hot")).select("sh")
    val exKept = ex.join(pairKeys, "sh")
    val shared = exKept.select(col("sh"), col("doc_id").as("a"))
      .join(exKept.select(col("sh"), col("doc_id").as("b")), "sh")
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    // shingles are distinct per doc, so np = all shingles − hot hits;
    // hot keys are unique per row, so the left join never fans out
    // (AQE broadcasts the small side)
    val np = ex.join(hotKeys.withColumn("h", lit(1)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) - count(col("h"))).as("np"))
    val out = shared
      .join(np.select(col("doc_id").as("a"), col("np").as("na")), "a")
      .join(np.select(col("doc_id").as("b"), col("np").as("nb")), "b")
      .where(col("shared") * 100 >= col("na") * minContainPct &&
        col("na") >= minShingles)
      .select(col("a").as("contained_id"), col("b").as("container_id"),
        col("shared"), col("na"), col("nb"))
    // the surviving pairs are tiny next to the postings: materialize
    // eagerly so the posting cache can be dropped before returning
    // (long-lived-JVM hygiene; ContextCleaner reclaims checkpoint
    // blocks once the result is unreferenced, persist entries it
    // won't). materialize=false keeps the lazy plan for plan audits.
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      ex.unpersist()
      result
    }
  }

  /** Connected components over an undirected pair list (columns a, b)
    * by min-label propagation: every node adopts the smallest label
    * among itself and its neighbors, iterated to fixpoint. Rounds are
    * bounded by the component diameter (near-dup clusters are shallow;
    * `maxIters` guards pathological chains), each round shuffles only
    * slim (node, label) rows, and lineage is cut per round with
    * localCheckpoint — the standard large-graph CC shape. Returns
    * (node, lab) where lab = min node id in the component.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // the edge list is the BIG table of the loop and every round joins
    // it on dst — cache it ALREADY HASH-PARTITIONED on the join key so
    // each round's join reuses the cached partitioning and only the
    // slim (node, label) side shuffles; un-partitioned, every round
    // re-exchanged 2|pairs| edge rows (the dominant ceiling cost).
    // A prepared (src, dst) input from [[edgeCache]] skips the pass.
    val prepared = preparedEdges(pairs)
    val edges = prepared.getOrElse(
      pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
        .repartition(col("dst"))
        .persist())
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("lab").as("nlab")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("nlab")).as("nmin"))
      // carry the previous label through the checkpoint so the
      // convergence count needs no extra shuffle join; the checkpoint
      // is LAZY so the count job both materializes the round's blocks
      // and tallies convergence — one job per round, not an eager
      // materialization followed by a second scan
      val next = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab"),
          col("lab").as("old"))
        .localCheckpoint(false)
      changed = next.where(col("lab") =!= col("old")).count()
      labels = next.select(col("node"), col("lab"))
      iter += 1
    }
    if (prepared.isEmpty) edges.unpersist() // a shared cache is the caller's
    labels
  }

  /** Bloom-filter membership dedup of a new batch against history —
    * the shuffle-free alternative to the exact hash equi-join: the
    * history's content hashes fold into a Bloom filter DISTRIBUTED
    * (`stat.bloomFilter` tree-aggregates partial filters on executors),
    * the filter broadcasts once, and the new batch probes it map-side —
    * the big side never shuffles. At 10⁹ keys / 3% fpp the filter is
    * ~1 GB; beyond that, partition-range blooms. Probing goes through a
    * Scala UDF deliberately: the filter is opaque binary state, and one
    * broadcast probe per row is cheap next to the scan.
    *
    * Flagged docs are bloom-POSITIVE (contains false positives by
    * construction); the returned stats verify the two properties that
    * make the pattern safe: zero false negatives (guaranteed by Bloom
    * semantics) and an observed fp count within the sized bound.
    * Returns one row: (n_new, n_exact_dups, no_false_negatives,
    * fp_rate_ok).
    */
  def bloomDedupStats(history: DataFrame, newBatch: DataFrame, textCol: String = "text",
      fpp: Double = 0.03, materialize: Boolean = true): DataFrame = {
    val spark = history.sparkSession
    def hashed(df: DataFrame): DataFrame = df.withColumn("h",
      md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")))
    val hist = hashed(history).select(col("h")).persist()
    val bloom = hist.stat.bloomFilter("h", math.max(hist.count(), 64L), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val probe = udf((s: String) => bc.value.mightContainString(s))
    val exact = hist.distinct().withColumn("is_dup", lit(true))
    val out = hashed(newBatch).withColumn("bloom_hit", probe(col("h")))
      .join(exact, Seq("h"), "left") // verification-only join
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
      .agg(
        count(lit(1)).as("n_new"),
        count(when(col("is_dup"), 1)).as("n_exact_dups"),
        (count(when(col("is_dup") && !col("bloom_hit"), 1)) === 0)
          .as("no_false_negatives"),
        // sized bound: 5 + 3·fpp·n — ~6σ above the expectation at any
        // SF, so the check is deterministic in practice
        (count(when(!col("is_dup") && col("bloom_hit"), 1)).cast(DoubleType)
          <= lit(5.0) + lit(3.0 * fpp)
            * count(when(!col("is_dup"), 1)).cast(DoubleType))
          .as("fp_rate_ok"))
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      hist.unpersist()
      result
    }
  }

  /** Incremental dedup of a new batch against a historical corpus: the
    * history is touched only through slim derived tables (content-hash
    * index + shingle inverted index — in production maintained
    * incrementally and stored bucketed by their join keys); the batch
    * never self-joins and history×history pairs are never formed.
    * Verdict precedence: exact_dup > near_dup (shingle Jaccard ≥
    * `nearThreshold`) > keep. Returns (doc_id, verdict, matched) with
    * matched = smallest matching history id, −1 for keeps.
    */
  def incrementalDedup(history0: DataFrame, newBatch0: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      nearThreshold: Double = 0.5, materialize: Boolean = true): DataFrame = {
    // both inputs feed multiple branches (hash index, shingle index,
    // anti-joins) — materialize the slim projection once each
    val history = history0.select(col(idCol), col(textCol)).persist()
    val newBatch = newBatch0.select(col(idCol), col(textCol)).persist()
    def hashed(df: DataFrame): DataFrame = df.withColumn("h",
      md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")))
    val histHash = hashed(history).select(col(idCol).as("hist_id"), col("h"))
    // `exact` feeds THREE consumers (the verdict union, the near pass's
    // anti-join, keep's anti-join) and `near` two (union + keep) — the
    // persisted inputs cached the SCANS but each consumer still re-ran
    // the join/groupBy subtrees (measured: 3× the md5 + exact-join task
    // time on d30). With no checkpoint dir configured, the LAZY cut is
    // a localCheckpoint: it materializes each verdict table exactly
    // once inside the final action, every consumer reads the pinned
    // blocks (guide §1.2: don't recompute) and no extra job runs. With
    // `spark.sql.graft.checkpointDir` set it is a reliable checkpoint
    // of an unpersisted frame, so Spark computes the frame a second
    // time, in a separate job that writes the checkpoint files.
    // Deliberately a cut, NOT persist() (measured A/B on d30: cut
    // 2.0-2.3 s task time / 16-18 jobs vs persist 11-19 s). The near
    // pass's join on the EXPLODED shingles carries a merge hint: a
    // broadcast build of the biggest intermediate in the op is
    // single-threaded, and at 100 TB a broadcast of exploded history
    // shingles is an OOM, while the shuffle join is the right shape.
    val exact0 = hashed(newBatch).join(histHash, "h")
      .groupBy(col(idCol)).agg(min(col("hist_id")).as("matched"))
      .withColumn("verdict", lit("exact_dup"))
    val exact = if (materialize) graft.core.Checkpoints.cut(exact0, eager = false)
      else exact0
    val rest = newBatch.join(exact.select(idCol), Seq(idCol), "left_anti")
    val restSh = shingled(rest, textCol)
      .select(col(idCol).as("doc_id"), col("shingles"))
    val histSh = shingled(history, textCol)
      .select(col(idCol).as("hist_id"), col("shingles").as("hsh"))
    // shingles are distinct per doc, so hashing them to 60-bit ints
    // before the join keeps the shared-count identical (no collisions
    // at these set sizes) while the shuffle carries 8-byte ints
    // instead of 3-word strings — the join key is what crosses the
    // wire at 100 TB, not the per-row CPU. Set sizes ride along as one
    // extra int per exploded row, so the Jaccard filter needs no
    // re-join of per-doc size tables onto the pair list (two fewer
    // shuffles; min() just picks the constant back up per pair).
    val near0 = restSh.select(col("doc_id"), size(col("shingles")).as("na"),
        explode(expr("transform(shingles, s -> graft_md5_60(s))")).as("sh"))
      .join(histSh.select(col("hist_id"), size(col("hsh")).as("nb"),
        explode(expr("transform(hsh, s -> graft_md5_60(s))")).as("sh")).hint("merge"), "sh")
      .groupBy(col("doc_id"), col("hist_id")).agg(count(lit(1)).as("shared"),
        min(col("na")).as("na"), min(col("nb")).as("nb"))
      .where(col("shared").cast(DoubleType)
        / (col("na") + col("nb") - col("shared")).cast(DoubleType) >= nearThreshold)
      .groupBy(col("doc_id")).agg(min(col("hist_id")).as("matched"))
      .withColumn("verdict", lit("near_dup"))
      .withColumnRenamed("doc_id", idCol)
    val near = if (materialize) graft.core.Checkpoints.cut(near0, eager = false)
      else near0
    val keep = newBatch.select(idCol)
      .join(exact.select(idCol), Seq(idCol), "left_anti")
      .join(near.select(idCol), Seq(idCol), "left_anti")
      .withColumn("matched", lit(-1L)).withColumn("verdict", lit("keep"))
    val out = exact.unionByName(near).unionByName(keep)
      .select(col(idCol), col("verdict"), col("matched"))
    if (!materialize) out
    else {
      val result = out.localCheckpoint(true)
      history.unpersist()
      newBatch.unpersist()
      result
    }
  }

  /** GPT-3/PaLM-style EXACT n-gram decontamination: a train doc is
    * contaminated if any of its token n-grams appears verbatim in the
    * eval corpus (the verbatim complement of the fuzzy MinHash pass —
    * paraphrases get the sketch, copied benchmark lines get this).
    * Eval-side grams hash to 60-bit ints and broadcast (the eval set
    * is benchmark-sized by construction); the train side probes the
    * broadcast inside the scan, so nothing wider than
    * (doc_id, gram-hash) exists transiently and only the per-doc
    * (n_grams, n_hits) counters cross the one shuffle — map-side
    * combined. Returns contaminated docs only: doc_id, n_grams
    * (distinct grams in the doc), n_hits (grams found in eval).
    */
  def exactNgramContamination(train: DataFrame, eval: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    graft.functions.BitSketchExpressions.register(train.sparkSession)
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol), graft.ops.Corpus.tokens(textCol).as("toks"))
      // size < n would make sequence(1, size-n+1) descend — same guard
      // as every other n-gram operator
      .where(size(col("toks")) >= n)
      .select(col(idCol), explode(array_distinct(expr(
        s"""transform(sequence(1, size(toks) - ${n - 1}),
           |  i -> graft_md5_60(concat_ws(' ', slice(toks, i, $n))))"""
          .stripMargin))).as("gh"))
    val evalGrams = grams(eval).select(col("gh")).distinct()
      .withColumn("hit", lit(1L))
    grams(train)
      .join(broadcast(evalGrams), Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .where(col("n_hits") > 0)
  }
}
