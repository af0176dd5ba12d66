package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{EngineQueries, PipelineQueries, RelationalQueries, Tables}

/** Physical-plan audits: the properties that make these operators hold
  * at 100 TB — filters reaching the parquet scan, column pruning, small
  * dimensions broadcast instead of shuffled, map-side partial
  * aggregation, whole-stage codegen — asserted on executed plans.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** formatted explain of the FINAL (post-AQE) plan. */
  private def plan(name: String): String = {
    val df = RelationalQueries.queries(name)(spark, sfDir)
    df.collect() // materialize so AQE finalizes
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q01: filter pushed to parquet scan + columns pruned") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      s"expected returnflag pushdown in:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_suppkey"),
      s"expected pruned ReadSchema, got $readSchema")
  }

  test("q06: small dimension joins via broadcast, not shuffle") {
    val p = plan("q06_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"customer should broadcast in:\n$p")
  }

  test("q07: all three dimension joins broadcast") {
    val p = plan("q07_join_multiway")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"expected >=3 broadcast joins, got $bhj in:\n$p")
  }

  test("q02: partial aggregation before the shuffle (map-side combine)") {
    val p = plan("q02_pricing_summary")
    val aggLines = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggLines >= 2, s"expected partial+final HashAggregate in:\n$p")
  }

  test("whole-stage codegen covers the agg pipeline") {
    // formatted explain marks codegen'd operators with a `*` prefix
    val p = plan("q02_pricing_summary")
    assert(p.contains("* HashAggregate") && p.contains("* Filter"),
      s"expected codegen'd (*) agg pipeline in:\n$p")
  }

  test("d10 ANN: query side broadcast — candidate scan streams once") {
    val df = PipelineQueries.queries("d10_ann_bruteforce_topk")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries should broadcast in:\n$p")
  }

  test("d145 semantic dedup: centroids broadcast; pair work bounded per cell") {
    val df = PipelineQueries.queries("d145_semantic_dedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the argmin assignment broadcasts the centroid table (corpus
    // streams once); the intra-cell pair join shuffles on cent_id only
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids should broadcast in:\n$p")
    assert(p.contains("cent_id"), s"pair join should key on cent_id in:\n$p")
  }

  test("d01 dedup: only agg + sort shuffles on the content hash") {
    val df = PipelineQueries.queries("d01_dedup_exact")(spark, sfDir)
    df.collect()
    // the formatted AQE explain repeats nodes in the "Initial Plan"
    // section — audit the final plan only
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    val exchanges = p.linesIterator.count(l => l.contains("Exchange"))
    assert(exchanges <= 3, s"expected agg+sort exchanges only, got $exchanges:\n$p")
  }

  test("d147 reg-domain grouping: partial agg before the single shuffle") {
    val df = PipelineQueries.queries("d147_reg_domain_groups")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // shape: scan → project (PSL trie lookup) → partial agg → ONE
    // hash-partitioned exchange → final agg → sort exchange. The lookup
    // must sit under the partial aggregate, so at 100 TB only (domain,
    // partial-count) rows ever shuffle — never raw URLs.
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected agg+sort exchanges only, got $exchanges:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregation in:\n$p")
  }

  test("e16 bucketed join: no exchange feeding the sort-merge join") {
    // the gate eagerly checkpoints (cache hygiene) — audit the pinned plan
    val df = EngineQueries.bucketedJoinPlan(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
    // join INPUTS must be exchange-free (bucket co-location); the
    // post-join agg/sort shuffles are expected. In formatted output the
    // join's subtree is printed after the SortMergeJoin line; the tree
    // diagram ends at the first blank line (detail blocks follow)
    val subtree = p.linesIterator.dropWhile(!_.contains("SortMergeJoin"))
      .takeWhile(_.trim.nonEmpty).toSeq
    assert(!subtree.exists(_.contains("Exchange")),
      s"bucketed join inputs should not shuffle:\n${subtree.mkString("\n")}")
  }

  test("q35 as-of join: window over one shuffle, no join operator at all") {
    val p = plan("q35_asof_join")
    assert(!p.contains("Join"), s"as-of should be joinless (union + window):\n$p")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    // final plan: one shuffle feeding the windows + one for the output sort
    val finalPlan = p.substring(0, math.max(p.indexOf("== Initial Plan =="), 0) match {
      case 0 => p.length; case i => i
    })
    val exchanges = finalPlan.linesIterator.count(l =>
      l.trim.startsWith("+- Exchange") || l.trim.startsWith(":- Exchange"))
    assert(exchanges <= 2, s"expected at most shuffle+sort exchanges, got $exchanges:\n$p")
  }

  test("q36 binned range join: equi-join, never a nested-loop join") {
    val p = plan("q36_range_join_binned")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join must bin to an equi-join:\n$p")
    assert(p.contains("Join"), s"expected an equi-join on (user_id, bin):\n$p")
  }

  test("d08 slim pair join: no shingle array crosses any exchange") {
    // the gate eagerly checkpoints (cache hygiene) — audit the lazy core
    val df = PipelineQueries.jaccardPairsPlan(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // formatted mode prints one detail block per node; every Exchange's
    // Input list must be array-free (the whole point of the rewrite)
    val exchangeBlocks = p.split("\n\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    assert(exchangeBlocks.nonEmpty, s"expected exchange detail blocks in:\n$p")
    exchangeBlocks.foreach { b =>
      assert(!b.contains("shingles"),
        s"a shingle array is being shuffled:\n$b")
    }
  }

  test("d58 sorted-neighborhood: window-generated pairs, no cartesian, slim exchanges") {
    val df = PipelineQueries.queries("d58_sorted_neighborhood")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"SNM must never pair all-vs-all:\n$p")
    assert(p.contains("Window"), s"pair generation must be lead() over a window:\n$p")
    // the token arrays join back by id; they must not ride the sort
    val exchangeBlocks = p.split("\n\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    assert(exchangeBlocks.count(_.contains("toks")) <= 2,
      s"token arrays should cross at most the two verify-join exchanges:\n$p")
  }

  test("d25 k-means: centroids broadcast on every assignment pass") {
    // the gate eagerly checkpoints (cache hygiene) — audit the lazy core
    val (e, df) = PipelineQueries.kmeansRefinePlan(spark, sfDir)
    df.collect()
    e.unpersist()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment should broadcast the centroid table:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"assignment must never fall back to a cartesian product:\n$p")
  }

  test("d55 blocklist: suffix equi-join broadcasts, never a LIKE/nested-loop") {
    val df = PipelineQueries.queries("d55_domain_blocklist")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"blocklist probe should be a broadcast HASH join on the exploded suffix:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a suffix-predicate (LIKE) join shape must never appear:\n$p")
  }

  test("d70 pagerank: rank iterations stay equi-joins over the slim edge list") {
    val df = PipelineQueries.queries("d70_domain_pagerank")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank propagation must join edges⋈ranks on src, never all-pairs:\n$p")
    // contributions aggregate per dst with a map-side partial pass
    assert(p.contains("HashAggregate"), s"expected hash aggregation of contributions:\n$p")
  }

  test("e32 wildcard tables: _TABLE_SUFFIX filter prunes whole shards") {
    val df = graft.queries.EngineQueries.queries("e32_wildcard_tables")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the suffix predicate constant-folds FALSE on the 19960101 branch —
    // that shard's scan must be gone from the physical plan
    assert(!p.contains("daily_19960101"),
      s"excluded shard still scanned:\n$p")
    assert(p.contains("daily_19960102") && p.contains("daily_19960103"),
      s"matching shards missing from plan:\n$p")
  }

  test("d24 tf-idf: tf aggregates partially before the shuffle") {
    val df = PipelineQueries.queries("d24_tfidf_terms")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    val aggLines = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggLines >= 2, s"expected partial+final HashAggregate in:\n$p")
  }

  test("e18: dim filter prunes fact partitions at runtime (DPP)") {
    val df = EngineQueries.queries("e18_dynamic_partition_pruning")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression partition filter on the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the era dim should broadcast:\n$p")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The runtime complement to q32's manual salting: one hot key (half
    // of orders remapped to custkey 1) would stall a single reducer at
    // 100 TB; with AQE skew handling the oversized partition is split
    // into parallel sub-joins. Thresholds are scaled down to the test
    // data size — the mechanism is identical at scale.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // many map tasks (repartition) — AQE can only split a skewed
      // reduce partition at map-output boundaries, and a tiny parquet
      // file reads as ONE map task otherwise
      val o = Tables.t(spark, sfDir, "orders").repartition(16)
        .withColumn("k",
          when(col("o_orderstatus") === "F", lit(1L)).otherwise(col("o_custkey")))
      val c = Tables.t(spark, sfDir, "customer")
      val df = o.join(c, o("k") === c("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
      df.collect()
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("skew=true"),
        s"expected AQE to mark the skewed join partition split:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("d28 packing: exactly one data shuffle (bucketed window cumsum)") {
    val df = PipelineQueries.queries("d28_sequence_packing")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // window-by-bucket shuffle + agg reuses it + output sort: ≤3 total,
    // and only ONE before the Window operator
    val lines = p.linesIterator.toSeq
    val windowIdx = lines.indexWhere(_.contains("Window"))
    val preWindow = lines.drop(windowIdx).count(_.contains("Exchange"))
    assert(windowIdx >= 0 && preWindow <= 1,
      s"packing should shuffle once for the per-bucket cumsum:\n$p")
  }

  test("q56 sessionization: one user_id shuffle serves windows and the session agg") {
    val df = RelationalQueries.queries("q56_sessionize_islands")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // lag window + running-sum window + groupBy(user_id, session_id) all
    // cluster on user_id: HashPartitioning(user_id) satisfies each, so
    // only the final orderBy adds a range exchange
    val dataExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(dataExchanges <= 1,
      s"gaps-and-islands must reuse ONE user_id partitioning, saw $dataExchanges:\n$p")
  }

  test("d72 RRF fusion: query terms broadcast, fusion stays equi-join") {
    val df = PipelineQueries.queries("d72_rrf_fusion")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"lexical candidates must come from a broadcast token probe:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"fusion must never be a doc-by-doc cartesian:\n$p")
  }

  test("d30 incremental dedup: no cartesian products, no history self-join") {
    // the gate eagerly checkpoints (cache hygiene) — audit the lazy core
    val df = PipelineQueries.incrementalDedupPlan(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-index dedup must stay equi-join only:\n$p")
  }

  test("d30 near pass: the exploded shingle join shuffles, never broadcasts") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val df = PipelineQueries.incrementalDedupPlan(spark, sfDir)
    df.collect()
    // the joins of the final adaptive plan keyed on the shingle hash
    val shJoins = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "sh")) => j
    }
    assert(shJoins.nonEmpty, s"no join on the shingle hash in:\n${df.queryExecution.executedPlan}")
    assert(!shJoins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the exploded history side must never be a broadcast build:\n${shJoins.mkString("\n")}")
  }

  test("d35 paragraph dedup: chunks shuffle as md5 hashes, never text") {
    val df = PipelineQueries.queries("d35_paragraph_dedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the global dedup window partitions by the 32-char hash…
    assert(p.contains("hashpartitioning(h#"),
      s"expected the dedup window to shuffle on the chunk hash:\n$p")
    // …and the raw text column is projected away before any exchange:
    // audit each "(N) Exchange" detail block's Input list
    val lines = p.linesIterator.toSeq
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
        lines.drop(i + 1).takeWhile(_.nonEmpty).filter(_.startsWith("Input"))
    }.flatten
    assert(exchangeInputs.nonEmpty && !exchangeInputs.exists(_.contains("text#")),
      s"chunk text must not cross an exchange:\n$p")
  }

  test("d36 semdedup: within-cell pairs via equi-join, no cartesian") {
    val df = PipelineQueries.queries("d36_semdedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the only nested-loop is the broadcast centroid assignment (16
    // rows); the pair stage itself must be a cent_id equi-join
    assert(!p.contains("CartesianProduct"),
      s"semdedup pair join must never be a cartesian product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on cent_id for the pair stage:\n$p")
  }

  test("partitioned write prunes reads to one partition on read-back") {
    Tables.views(spark, sfDir, "orders")
    spark.sql("DROP DATABASE IF EXISTS plan_audit CASCADE")
    val loc = java.nio.file.Files.createTempDirectory("plan_audit").toAbsolutePath
    spark.sql(s"CREATE DATABASE plan_audit LOCATION '$loc'")
    spark.sql("CREATE TABLE plan_audit.t (cnt BIGINT, d STRING) USING PARQUET PARTITIONED BY (d)")
    spark.sql(
      """INSERT INTO plan_audit.t PARTITION (d)
        |SELECT count(1), date_format(o_orderdate, 'yyyy-MM-dd')
        |FROM orders WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-01-08'
        |GROUP BY 2""".stripMargin)
    val df = spark.table("plan_audit.t").where("d = '1996-01-03'")
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("1996-01-03"),
      s"partition filter should prune the scan:\n$p")
  }

  test("q53 LATERAL subquery decorrelates: aggregate join, no nested loop per row") {
    val p = plan("q53_lateral_subquery")
    assert(!p.contains("CartesianProduct"),
      s"correlated lateral must decorrelate into a join:\n$p")
    assert(p.contains("Join") && p.contains("HashAggregate"),
      s"expected join + aggregate from decorrelation:\n$p")
  }

  test("d47 span dedup: window fingerprints shuffle as ints, never token arrays") {
    // the gate eagerly checkpoints (cache hygiene) — audit the lazy core
    val df = PipelineQueries.spanDedupPlan(spark, sfDir, materialize = false)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val exchangeBlocks = p.split("\n\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    assert(exchangeBlocks.nonEmpty, s"expected exchange detail blocks in:\n$p")
    exchangeBlocks.foreach { b =>
      assert(!b.contains("toks"), s"a token array is being shuffled:\n$b")
    }
    assert(!p.contains("CartesianProduct"), s"span pairing must stay an equi-join:\n$p")
  }

  test("d54 span removal: one corpus scan, no join, no persist (r9 fusion)") {
    // ownership is min-over-window on the wh partition and coverage is
    // one aggregation — the round-8 shape (persist + owner agg + join +
    // distinct + left join, ~5 jobs) must not come back
    val df = PipelineQueries.queries("d54_span_removal")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), s"the fused shape has no join:\n$p")
    assert(!p.contains("InMemoryTableScan"), s"no persist in the fused shape:\n$p")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"expected window ownership + one aggregation:\n$p")
    // exactly one scan of the documents table (base + planted branches
    // both read it — two FileScans of the same file set is the union,
    // not a recompute; anything more means the old multi-pass shape).
    // Count in the FINAL plan tree only (details + initial plan repeat
    // the operator names).
    val finalTree = p.split("== Initial Plan ==").head
    val scans = finalTree.split("\n").count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected <= 2 parquet scan branches (base+planted):\n$p")
  }

  test("d102 LSH index probe: bucketed index side joins exchange-free") {
    // pinNoBroadcast forces the large-large shape (at 100 TB neither
    // side broadcasts): sort-merge against the bucketed index with the
    // PROBE side as the only exchange below the join
    val df = PipelineQueries.lshIndexProbePlan(spark, sfDir, pinNoBroadcast = true)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
    assert(p.contains("Bucketed: true"),
      s"index scan must use the bucketed layout:\n$p")
    val subtree = p.linesIterator.dropWhile(!_.contains("SortMergeJoin"))
      .takeWhile(_.trim.nonEmpty).toSeq
    assert(subtree.count(_.contains("Exchange")) <= 1,
      s"only the probe side may shuffle into the bucketed join:\n${subtree.mkString("\n")}")
  }

  test("e26 DSv2 source: unused text column pruned out of the scan") {
    val df = EngineQueries.queries("e26_synthetic_source")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the Output line of the BatchScan detail block lists the columns
    // the source actually produces
    val outLine = raw"(?s)\(\d+\) BatchScan[^\n]*\n(Output[^\n]*)".r
      .findFirstMatchIn(p).map(_.group(1))
      .getOrElse(fail(s"no BatchScan Output line in:\n$p"))
    assert(outLine.contains("doc_id") && !outLine.contains("text"),
      s"the generator must not produce the unread text column:\n$outLine")
  }

  test("d46 BM25: corpus stats join is a broadcast, tf aggregates partially") {
    // the gate eagerly checkpoints (cache hygiene) — audit the lazy core
    val df = graft.ops.Corpus.bm25Terms(
      graft.queries.Tables.t(spark, sfDir, "documents"), materialize = false)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row (N, sum_dl) side must broadcast:\n$p")
    assert(p.contains("partial_count"), s"tf must combine map-side:\n$p")
  }

  test("d59 familiarity: the bigram explode is computed once, not re-scanned") {
    // The exploded bigram stream feeds BOTH the count side and the
    // per-doc join side. At 100 TB the text column must not be scanned
    // and re-exploded twice — the identical shuffle-on-bigram subplans
    // must collapse into one exchange (ReusedExchange), and the 1-row
    // stats frame must broadcast.
    val df = PipelineQueries.queries("d59_ngram_familiarity")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1 || p.contains("ReusedExchange"),
      s"expected one documents scan or a reused exchange, got $scans scans in:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row stats frame must broadcast:\n$p")
  }

  test("d60 z-order layout: range partitions on z contract BOTH dim spans") {
    // The point of the Morton key: after repartitionByRange(z) each
    // output file covers a bounded slice of x AND y, so parquet min/max
    // stats prune either predicate. A single-dim sort (the naive
    // layout) bounds only its own column — x stays at full span.
    // Both dims scaled to the SAME bit width (7 bits) — interleaving
    // only balances the curve when the dims have comparable ranges; a
    // 10-bit dim zipped with an 8-bit one puts the top z bits all on
    // one side and the other dim stops contracting.
    import org.apache.spark.sql.functions._
    val dims = Tables.t(spark, sfDir, "orders").select(
      pmod(col("o_custkey"), lit(128)).cast("long").as("x"),
      expr("datediff(o_orderdate, DATE'1995-01-01') % 128").cast("long").as("y"))
    def meanSpans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = df
        .withColumn("pid", spark_partition_id())
        .groupBy(col("pid"))
        .agg((max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"))
        .agg(avg(col("xs")), avg(col("ys"))).head()
      (spans.getDouble(0), spans.getDouble(1))
    }
    val zed = dims.withColumn("z", PipelineQueries.zorderKey(col("x"), col("y")))
    val (zx, zy) = meanSpans(zed.repartitionByRange(16, col("z")))
    val (nx, _) = meanSpans(dims.repartitionByRange(16, col("y")))
    val (gx, gy) = meanSpans(dims.coalesce(1))
    assert(zx < gx * 0.5 && zy < gy * 0.5,
      s"z-layout should bound both dims: x $zx/$gx, y $zy/$gy")
    assert(nx > gx * 0.8,
      s"the y-only layout should NOT bound x (got $nx of $gx) — otherwise this test proves nothing")
  }

  test("d66 C4 line filter: dedup window and join-back are equi, never cartesian") {
    val df = PipelineQueries.queries("d66_c4_line_filter")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line-filter joins must stay equi-joins:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected the first-occurrence window:\n$p")
  }

  test("d68 n-gram novelty: single-pass window min, gram explode runs once") {
    val df = PipelineQueries.queries("d68_ngram_novelty")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"first-occurrence attribution must never be all-pairs:\n$p")
    // whole-partition window min replaces groupBy + join-back: the
    // corpus is scanned ONCE (the old shape scanned it twice with zero
    // exchange reuse)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"gram explode must feed one scan, not a replayed join branch:\n$p")
  }

  test("d69 UniMax: totals and cutoff broadcast; no data-sized shuffle after the agg") {
    val df = PipelineQueries.queries("d69_unimax_allocation")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the two crossJoins carry 1-row frames — they must be broadcast,
    // not a repartitioned cartesian
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row budget/cutoff frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product for the scalar frames:\n$p")
  }

  test("q59 correlated scalar: decorrelated to aggregate + join, dims broadcast") {
    val p = plan("q59_correlated_scalar")
    // Catalyst must rewrite the correlated min-subquery to a grouped
    // aggregate joined back on l_partkey — no nested-loop re-execution
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated scalar must decorrelate, not loop:\n$p")
    assert(p.contains("HashAggregate"), s"expected the decorrelated min aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation dims should broadcast:\n$p")
  }

  test("d74 line-removal rewrite: joinless map+window+agg, one corpus scan branch set") {
    val df = PipelineQueries.queries("d74_line_dedup_rewrite")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // global line-frequency is a count window, NOT a groupBy + join-back
    // — no join operator of any kind may appear
    assert(!p.contains("Join"), s"line rewrite must stay joinless:\n$p")
    assert(p.contains("Window"), s"expected the global freq window:\n$p")
  }

  test("d77 snapshot diff: exchanges carry hashes, never document text") {
    val df = PipelineQueries.queries("d77_snapshot_manifest_diff")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s"expected the doc_id join shuffle:\n$p")
    // the full-outer join and source rollup ship md5 strings + counts;
    // the text column must be projected away before any exchange
    assert(!p.contains("text#") ||
      p.linesIterator.filter(_.contains("Exchange")).forall(!_.contains("text#")),
      s"document text must not cross an exchange:\n$p")
  }

  test("d103 chat turns: the whole sessionize→turns chain rides ONE hash exchange") {
    // two windows (user_id), (user_id, conv_idx), a grouped turn agg
    // and the n_turns window all cluster on a user_id prefix —
    // HashPartitioning(user_id) satisfies every downstream
    // ClusteredDistribution, so Catalyst must plan exactly one hash
    // exchange; a second one means a window/agg broke the clustering
    // chain (the per-user-stream scale contract for 100 TB logs)
    val df = PipelineQueries.chatTurnsPlan(spark, sfDir)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalTree = full.split("== Initial Plan ==").head
    // tree nodes print as "+- Exchange (5)"; node details ("(5)
    // Exchange ... Arguments: hashpartitioning(...)") live after both
    // trees, so count nodes in the final tree and check the argument
    // in the shared details section
    val ex = raw"Exchange \(\d+\)".r.findAllIn(finalTree).size
    assert(ex == 1, s"expected exactly one exchange in the final plan, got $ex:\n$finalTree")
    assert(full.contains("hashpartitioning(user_id"),
      s"the single exchange must hash on user_id:\n$full")
    assert(!full.contains("rangepartitioning"),
      s"no global sort belongs in the turns chain:\n$full")
  }

  test("e47 top-count: Space-Saving aggregate map-side combines (partial before the exchange)") {
    import org.apache.spark.sql.functions._
    graft.functions.TopCount.register(spark)
    val df = Tables.t(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("graft_top_count(o_orderpriority, 3)").as("t"))
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // a TypedImperativeAggregate plans as ObjectHashAggregate; the
    // 100 TB contract is partial aggregation BEFORE the shuffle so
    // each executor ships one O(cap) sketch per group, not its rows
    val oha = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(oha >= 2, s"expected partial+final ObjectHashAggregate:\n$p")
    val lines = p.linesIterator.toSeq
    val firstAgg = lines.lastIndexWhere(_.contains("ObjectHashAggregate"))
    val ex = lines.indexWhere(l => l.contains("Exchange") || l.contains("ShuffleQueryStage"))
    assert(ex >= 0 && ex < firstAgg,
      s"partial aggregate must sit below the exchange:\n$p")
  }

  test("m12 resample: decode is the only object boundary; interpolation codegen, no exchange") {
    val df = PipelineQueries.audioResamplePlan(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // the WAV codec call must be the single imperative region (its
    // synthetic-blob generator is a second mapPartitions at gate scale
    // only because the payloads are synthesized — in production the
    // blobs come off a scan); the interpolation itself must be a
    // codegen'd projection with no shuffle anywhere
    assert(raw"Exchange \(\d+\)".r.findAllIn(p).isEmpty,
      s"per-row resampling must not shuffle:\n$p")
    // exactly two MapPartitions: blob synthesis + codec decode — the
    // interpolation must NOT add a third object boundary (HOF
    // projections are Tungsten row-based; codegen spans show as '*')
    val mp = raw"MapPartitions \(\d+\)".r.findAllIn(p).size
    assert(mp == 2, s"expected 2 object boundaries (synth + decode), got $mp:\n$p")
    assert(p.linesIterator.exists(_.trim.startsWith("+- * ")),
      s"expected codegen spans in the scan/filter chain:\n$p")
    assert(!p.contains("Window") && !p.contains("SortAggregate"),
      s"no window/sort belongs in a per-row op:\n$p")
  }

  test("d43 containment: pre-aggregated df cap, no window sort of the posting stream") {
    // the gate query returns an eagerly-checkpointed frame (cache
    // hygiene), whose plan is a LogicalRDD — audit the BUILD plan via
    // the API with materialize=false instead
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, sfDir, "documents")
    val corpus = docs.unionByName(
      docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 4000000L)
        .withColumn("text", concat(col("text"), lit(" tail"))))
    val df = graft.ops.TextDedup.containmentPairs(corpus, sampleMod = 4,
      materialize = false)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // generation-4 shape (STRESS.md): Tungsten count → key filter →
    // equi-self-join pair gen. Never a count window (which would
    // shuffle-SORT every exploded (doc, shingle) row — the round-5
    // ~7x regression), never a cartesian, and never any OBJECT
    // aggregation (one buffer per distinct shingle was the 1M-doc GC
    // wall of generation 3)
    assert(!p.contains("Window"),
      s"df cap must not be a window over the posting stream:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final HashAggregate for the df count:\n$p")
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      s"containment must stay on Tungsten hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay an equi-join:\n$p")
  }

  test("d21 components: the per-round edge join reuses the cached partitioning") {
    // rebuild one CC round inline (the op loops internally): edges are
    // cached pre-partitioned on dst, so the round's join must read the
    // InMemoryTableScan DIRECTLY — no Exchange may sit between the
    // cache and the join. Un-partitioned, every round re-exchanged the
    // full edge list (the 3.15× ceiling cost this shape removed).
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, sfDir, "documents").select(col("doc_id"))
    val pairs = docs.select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b"))
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
      .repartition(col("dst")).persist()
    edges.count()
    // at audit scale the edge table is broadcast-small, which would
    // vacuously pass; force the shuffle-join planning the 1M-doc shape
    // actually gets
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeBc = scala.util.Try(
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.flatMap(Option(_))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val labels = edges.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node"))
      val round = edges
        .join(labels.select(col("node").as("dst"), col("lab").as("nlab")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("nlab")).as("nmin"))
      round.collect()
      val p = round.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==").head
      // walk the operator tree: no Exchange may have the cached edge
      // scan as its direct input subtree root
      val lines = p.linesIterator.toVector
      val scanIdx = lines.indexWhere(_.contains("InMemoryTableScan"))
      assert(scanIdx >= 0, s"expected a cached edge scan in:\n$p")
      // in formatted explain the tree section lists children below
      // their parent with deeper indentation; assert the scan's parent
      // chain up to the join contains no Exchange
      def indent(l: String) = l.takeWhile(c => !c.isLetter && c != '*' && c != '+').length
      val scanIndent = indent(lines(scanIdx))
      val parents = (scanIdx - 1 to 0 by -1).map(lines)
        .filter(l => indent(l) < scanIndent)
      val firstJoinOrExchange = parents.find(l =>
        l.contains("Join") || l.contains("Exchange"))
      assert(firstJoinOrExchange.exists(_.contains("Join")),
        s"the cached edge scan must feed the join WITHOUT a re-exchange; " +
          s"found ${firstJoinOrExchange.getOrElse("nothing")} in:\n$p")
    } finally {
      edges.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      prevAqeBc match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case scala.None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("e58 MV refresh: the recompute scan is pruned to the stale partition") {
    // drive the gate (base partitioned by priority, one partition
    // mutated, CALL refresh) and audit the refresh's recorded plan:
    // the filter the incremental path appends must reach the base scan
    // as a PARTITION filter — a refresh that scans all five priorities
    // is a full rebuild wearing an incremental name
    MvRegistry.lastRefreshPlan = None
    EngineQueries.queries("e58_mv_partition_refresh")(spark, sfDir).collect()
    val p = MvRegistry.lastRefreshPlan.getOrElse(
      fail("the e58 refresh did not take the incremental path"))
    val scanFilter = p.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail(s"no PartitionFilters line in the refresh plan:\n$p"))
    assert(scanFilter.contains("o_orderpriority") && scanFilter.contains("1-URGENT"),
      s"refresh scan must be pruned to the stale priority partition: $scanFilter")
  }

  test("d80 surprisal: one raw-token shuffle; corpus baseline broadcast, not collected") {
    val df = PipelineQueries.queries("d80_unigram_surprisal_filter")(spark, sfDir)
    // the gate result is checkpointed (cache hygiene); rebuild the
    // interesting part inline: tf -> counts -> per-doc join
    import org.apache.spark.sql.functions._
    val tf = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.collect()
    val p = tf.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"tf must partial-aggregate map-side before its shuffle:\n$p")
    assert(df.count() == 50, "surprisal filter emits the fixed worst-50 tail")
  }

  test("d81 decontamination: eval side broadcasts for band join and verification") {
    val df = PipelineQueries.queries("d81_fuzzy_decontamination")(spark, sfDir)
    assert(df.count() >= 0) // checkpointed result; the build ran inside
    // rebuild the candidate join inline to audit the physical shape
    import org.apache.spark.sql.functions._
    graft.functions.BitSketchExpressions.register(spark)
    val docs = Tables.t(spark, sfDir, "documents")
    def bands(d0: org.apache.spark.sql.DataFrame, idName: String) =
      graft.ops.TextDedup.shingled(d0)
        .withColumn("mh", expr("graft_minhash32(shingles)"))
        .select(col("doc_id").as(idName), explode(expr(
          """transform(sequence(0, 7),
            |  b -> struct(b as band, graft_md5_60(concat_ws(',', slice(mh, b*4+1, 4))) as bh))""".stripMargin)).as("bd"))
        .select(col(idName), col("bd.band"), col("bd.bh"))
    val cand = bands(docs.where(col("doc_id") % 50 === 0), "bench_id")
    val plan = bands(docs.where(col("doc_id") % 50 =!= 0), "doc_id")
      .join(broadcast(cand), Seq("band", "bh"))
    plan.collect()
    val p = plan.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark band table must broadcast:\n$p")
  }

  test("d84 token drift: both snapshots partial-aggregate before any shuffle") {
    val df = PipelineQueries.queries("d84_token_drift")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final aggregates on both snapshot branches:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the scalar totals must broadcast, never cartesian over data:\n$p")
  }

  test("d83 quantiles: one source-partitioned window, counts broadcast back") {
    val df = PipelineQueries.queries("d83_source_length_quantiles")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(_.contains("Window")) == 1,
      s"exactly one rank window expected:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source counts must broadcast back to the ranked rows:\n$p")
  }

  test("m10 silence segments: payload bytes never cross an exchange") {
    val df = PipelineQueries.queries("m10_audio_silence_segments")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.linesIterator.filter(_.contains("Exchange")).forall(!_.contains("payload")),
      s"payload bytes must not cross an exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("m09 scene cuts: only slim histogram rows shuffle, never pixels or payloads") {
    val df = PipelineQueries.queries("m09_video_scene_cuts")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // the GIF payload bytes must be gone before the per-doc window
    // shuffle: no exchange may carry the payload column
    assert(p.linesIterator.filter(_.contains("Exchange")).forall(!_.contains("payload")),
      s"payload bytes must not cross an exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("q60 rolling frame: custkey filter pushed down, one window shuffle") {
    val df = RelationalQueries.queries("q60_rolling_revenue")(spark, sfDir)
    df.collect()
    // node details (PushedFilters) print AFTER the plan trees — check
    // the full formatted output, but count Window nodes in the final
    // tree only (the Initial Plan section repeats them)
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(full.contains("PushedFilters") && full.contains("o_custkey"),
      s"expected custkey pushdown in:\n$full")
    val tree = full.split("== Initial Plan ==").head
    assert(tree.linesIterator.count(_.contains("Window")) == 1,
      s"exactly one range-frame window expected:\n$tree")
  }

  test("q61 BFS: every hop joins a broadcast frontier, no cartesian") {
    // the r12 lineage fix checkpoints each hop (the unrolled plan had
    // 268 Exchanges of pure re-planning), so the gate's FINAL plan is a
    // groupBy over checkpoint scans; audit one hop built by the
    // PRODUCTION hop helper (RelationalQueries.reachabilityHop — the
    // exact code every round executes), so a drift in the gate's loop
    // cannot slip past a replica.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Tables.t(spark, sfDir, "lineitem")
      .where(col("l_orderkey") % 97 === 0)
      .select((col("l_suppkey") % 100).as("src"), (col("l_partkey") % 100).as("dst"))
      .distinct().localCheckpoint(true)
    val frontier = Seq(0L).toDF("node")
    val reached = Seq((0L, 0)).toDF("node", "depth")
    val hop = RelationalQueries.reachabilityHop(frontier, edges, reached, 1)
    hop.collect()
    val p = hop.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"frontier should broadcast against the edge table in:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
    // and the gate itself stays cartesian-free end to end
    val df = RelationalQueries.queries("q61_graph_reachability")(spark, sfDir)
    df.collect()
    val pg = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!pg.contains("CartesianProduct"), s"no cartesian in:\n$pg")
  }

  test("d86 bigram LM: map-side partial aggregation before every shuffle") {
    // audit the pre-checkpoint pipeline — the gate's eager
    // localCheckpoint collapses the executed plan to an RDD scan
    val (tfb, out) = PipelineQueries.bigramSurprisalPlan(spark, sfDir)
    try {
      out.collect()
      val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==").head
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
        s"expected partial+final aggregates on tf and count tables:\n$p")
      assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
    } finally tfb.unpersist()
  }

  test("d87 epoch shuffle: both window functions share one exchange") {
    val df = PipelineQueries.queries("d87_epoch_shard_shuffle")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // row_number + shard_size count partition on the same (epoch,shard)
    // keys: one exchange must feed both (plus the final sort)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected window+sort exchanges only, got $exchanges:\n$p")
  }

  test("d92 rehydration: id list broadcasts, text never crosses an exchange") {
    val df = PipelineQueries.queries("d92_selection_rehydrate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"the slim id list must broadcast into the corpus scan:\n$p")
    assert(p.linesIterator.filter(_.contains("Exchange")).forall(!_.contains("text")),
      s"text must not cross an exchange:\n$p")
  }

  test("d85 top-k: global ORDER BY + LIMIT plans as TakeOrderedAndProject") {
    // a top-k over a big aggregate must never be a full global sort:
    // TakeOrderedAndProject keeps a k-row heap per partition and merges
    // k-row results — O(n log k) and no sort spill at 100 TB
    val df = PipelineQueries.queries("d85_bigram_pmi")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"expected heap-based top-k, not a global sort:\n$p")
  }

  test("m11 pooled dedup: GIF payloads never cross an exchange") {
    val df = PipelineQueries.queries("m11_video_pooled_dedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.linesIterator.filter(_.contains("Exchange")).forall(!_.contains("payload")),
      s"payload bytes must not cross an exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("d95 sketch quantiles: partial sketches merge map-side before the shuffle") {
    val df = PipelineQueries.queries("d95_approx_quantiles")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // approx_percentile is a TypedImperativeAggregate → ObjectHashAggregate;
    // partial + final nodes = the sketch is built per-partition and MERGED,
    // the property that makes the one-pass profile work at 100 TB
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final sketch aggregation in:\n$p")
  }

  test("d89 compression filter: zlib scoring stays in whole-stage codegen") {
    val df = PipelineQueries.queries("d89_compression_ratio_filter")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the native DeflateLength expression must not force the scan out
    // of codegen — the old mapPartitions form paid a full Dataset
    // ser/deser boundary here
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"zlib pass must be an expression, not an object boundary:\n$p")
    assert(p.contains("* Project"), s"expected codegen'd projection in:\n$p")
  }

  test("d93 salted join: hot key spreads over (key, salt) shuffle partitions") {
    val df = PipelineQueries.queries("d93_skew_salted_join")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ShuffledHashJoin"),
      s"the hint must force a shuffle join (broadcast would defeat the demo):\n$p")
    assert(p.contains("salt"),
      s"the join keys must include the salt column:\n$p")
  }

  test("d88 url canonicalize: regex chain stays in codegen, one agg shuffle") {
    val df = PipelineQueries.queries("d88_url_canonicalize")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("* HashAggregate"),
      s"expected codegen'd aggregation over the regex chain:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("d106/d108/d110 per-row ops: zero exchanges — cost is exactly the scan") {
    // Luhn card detection, script profiling, and token entropy are
    // per-row expression work; at 100 TB their cost must be the
    // corpus scan and nothing else — any exchange here is a bug
    val docs = Tables.t(spark, sfDir, "documents")
    for ((name, df) <- Seq(
        "cardCandidates" -> graft.ops.Corpus.cardCandidates(docs),
        "scriptProfile" -> graft.ops.Corpus.scriptProfile(docs),
        "tokenEntropy" -> graft.ops.Corpus.tokenEntropy(docs),
        "encodingArtifacts" -> graft.ops.Corpus.encodingArtifacts(docs))) {
      df.collect()
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==").head
      assert(raw"Exchange \(\d+\)".r.findAllIn(p).isEmpty,
        s"$name must not shuffle:\n$p")
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!readSchema.contains("n_chars"),
        s"$name must prune unused columns, got $readSchema")
    }
  }

  test("d107 preference pairs: map-side top-k before each exchange, broadcast join") {
    import org.apache.spark.sql.functions._
    val scored = graft.ops.Corpus.qualityScore(
        Tables.t(spark, sfDir, "documents"), keep = Seq("source", "lang"))
      .select(col("doc_id"), col("source"), col("lang"), col("quality"))
    val df = graft.ops.Corpus.preferencePairs(
      scored, Seq("source", "lang"), "quality", k = 5, minMargin = 0.05)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalTree = full.split("== Initial Plan ==").head
    // rank ≤ k must push below the shuffle (WindowGroupLimit partial
    // mode): only ≤ k rows per group per input partition cross the
    // wire — the property that keeps this linear at 100 TB
    val shuffles = raw"(?<!Broadcast)Exchange \(\d+\)".r.findAllIn(finalTree).size
    assert(shuffles == 2, s"one group exchange per rank window, got $shuffles:\n$finalTree")
    val wgl = finalTree.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(wgl >= 4, s"expected partial+final WindowGroupLimit per branch:\n$finalTree")
    assert(finalTree.contains("BroadcastHashJoin"),
      s"the k-rows-per-group sides must broadcast-join:\n$finalTree")
    assert(!finalTree.contains("CartesianProduct"), s"no cartesian in:\n$finalTree")
  }

  test("d111 span cut: pair generation rides the window-hash join, no cartesian") {
    // materialize=false: the gate's localCheckpoint hides the plan
    val df = graft.ops.TextDedup.spanCutRewrite(
      Tables.t(spark, sfDir, "documents"), materialize = false)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(full.contains("hashpartitioning(wh"),
      s"candidates must equi-join on the rolling-window hash:\n$full")
    assert(!full.contains("CartesianProduct"), s"no cartesian in:\n$full")
  }

  test("d112 pq encode: codebook broadcasts, assignment combines map-side") {
    import org.apache.spark.sql.functions._
    val e = graft.ops.Embeddings.quantized(Tables.t(spark, sfDir, "embeddings"))
    val cb = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val df = graft.ops.Embeddings.pqEncode(e, cb, m = 4)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalTree = full.split("== Initial Plan ==").head
    assert(finalTree.contains("BroadcastNestedLoopJoin") ||
      finalTree.contains("BroadcastExchange"),
      s"the ksub-row codebook must broadcast, never shuffle the corpus:\n$finalTree")
    // the n·m·ksub assignment stream must partial-aggregate (per-vec
    // per-block argmin) BEFORE its exchange — only n·m rows cross
    val shuffles = raw"(?<!Broadcast)Exchange \(\d+\)".r.findAllIn(finalTree).size
    assert(shuffles <= 2, s"argmin + code rollup = at most 2 exchanges, got $shuffles:\n$finalTree")
    val aggs = finalTree.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregation:\n$finalTree")
  }

  test("d113 pq adc: scoring joins the broadcast LUT on (block, code) ints") {
    val df = PipelineQueries.queries("d113_pq_adc_recall")(spark, sfDir)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalTree = full.split("== Initial Plan ==").head
    assert(finalTree.contains("BroadcastHashJoin"),
      s"the queries·m·ksub LUT must broadcast-hash-join the code stream:\n$finalTree")
    assert(!finalTree.contains("CartesianProduct"), s"no cartesian in:\n$finalTree")
  }

  test("d114 ivf-pq: LUT broadcast-hash-joins the code stream, no cartesian") {
    val df = PipelineQueries.queries("d114_ivfpq_recall")(spark, sfDir)
    df.collect()
    val finalTree = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(finalTree.contains("BroadcastHashJoin"),
      s"the per-list ADC LUT must broadcast-hash-join on (list, block, code):\n$finalTree")
    assert(!finalTree.contains("CartesianProduct"), s"no cartesian in:\n$finalTree")
  }

  test("d109 templated responses: three slim exchanges, freq rides the 16-byte hash") {
    val df = graft.ops.Chat.templatedShare(
      PipelineQueries.chatRichTurnsPlan(spark, sfDir))
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalTree = full.split("== Initial Plan ==").head
    // user-chain exchange (d103's single shuffle), the turn-hash
    // frequency window, and the per-conversation rollup — no more
    val shuffles = raw"(?<!Broadcast)Exchange \(\d+\)".r.findAllIn(finalTree).size
    assert(shuffles == 3, s"chain + freq + rollup = 3 exchanges, got $shuffles:\n$finalTree")
    assert(full.contains("hashpartitioning(user_id"),
      s"chain and rollup must cluster on user_id:\n$full")
    assert(full.contains("hashpartitioning(h#"),
      s"frequency window must shuffle the md5 hash, not turn text:\n$full")
  }

  /** Input column lists of every plain (non-broadcast) Exchange detail
    * block in a formatted explain — what actually crosses the wire.
    */
  private def shuffledInputs(p: String): Seq[String] =
    p.split("\n\n").toSeq
      .filter(_.linesIterator.nextOption().exists(_.matches(raw"\(\d+\) Exchange\b.*")))
      .flatMap(_.linesIterator.find(_.startsWith("Input")))

  test("d115 boilerplate lines: doc text never shuffles — hashes count, sets broadcast") {
    val df = PipelineQueries.queries("d115_boilerplate_lines")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // the boilerplate SET joins back as a broadcast; docs filter their
    // own lines locally — reassembly must not shuffle text
    assert(p.contains("BroadcastHashJoin"),
      s"per-source boilerplate sets must broadcast-join:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty,
      s"doc text crossed a plain exchange: $leaked\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("d116 rank AUC: corpus aggregates before any exchange; window sees the score grid") {
    val df = PipelineQueries.queries("d116_quality_auc")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // partial (score → counts) aggregation must run map-side so the
    // corpus collapses before the shuffle; the single-partition rank
    // window then runs on the distinct-score table only
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final per-score aggregation:\n$p")
    val shuffles = raw"(?<!Broadcast)Exchange \(\d+\)".r.findAllIn(p).size
    assert(shuffles <= 3,
      s"score groupBy + grid window + final agg only, got $shuffles:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
  }

  test("d117 bradley-terry: champion top-1 rides WindowGroupLimit; MM solve broadcasts") {
    // materialize=false: the gate's edge-table localCheckpoint hides
    // the champion stage from the executed plan
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val scored = graft.ops.Corpus
      .qualityScore(Tables.t(spark, sfDir, "documents"),
        keep = Seq("source", "lang"))
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
    val df = graft.ops.Corpus.bradleyTerry(matches, iters = 2,
      materialize = false)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // champion selection (rn = 1) must prune to ≤ 1 row per group per
    // input partition BEFORE its exchange — the corpus-scale stage
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"expected partial+final WindowGroupLimit for champion top-1:\n$p")
    // both MM rounds join strengths to the edge table as broadcasts
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4,
      s"each MM round must broadcast π into the edge table twice:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("d124 winnowing pairs: selection is per-row codegen; token arrays never shuffle") {
    val df = PipelineQueries.queries("d124_winnowing_pairs")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // gram hashing + window-min selection happen in the scan stage;
    // only slim (hash, id) longs may cross an exchange afterwards
    val leaked = shuffledInputs(p).filter(s =>
      s.contains("text#") || s.contains("toks#") || s.contains("grams#"))
    assert(leaked.isEmpty,
      s"token/gram arrays crossed a plain exchange: $leaked\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("d119 curriculum: both windows share one per-domain exchange, no global sort") {
    import org.apache.spark.sql.functions._
    val df = graft.ops.Corpus.curriculumSchedule(
      Tables.t(spark, sfDir, "documents"),
      difficulty = size(graft.ops.Corpus.tokens()), epochs = 4)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    val shuffles = raw"(?<!Broadcast)Exchange \(\d+\)".r.findAllIn(p).size
    assert(shuffles == 1,
      s"rank + group-count windows must share the source exchange, got $shuffles:\n$p")
    assert(!p.contains("SinglePartition"),
      s"curriculum rank must stay per-domain — a global sort would serialize:\n$p")
  }

  test("d126 epoch plan: text never shuffles; totals broadcast to the source table") {
    val df = PipelineQueries.queries("d126_data_constrained_plan")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // dedup + per-source rollup shuffle only (source, hash, count)
    // ints; the one-row totals frame broadcasts back
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
    assert(p.contains("BroadcastExchange"),
      s"corpus totals must broadcast, not shuffle-join:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final aggregation at both rollups:\n$p")
  }

  test("d127 sweep: corpus collapses map-side; window sees only the 20-row grid") {
    val df = PipelineQueries.queries("d127_threshold_sweep")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"bucket counts must partial-aggregate before their exchange:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
    // the cumulative window's input is the bucket grid (≤ nBuckets
    // rows, documented-bounded), never the corpus: upstream of the
    // Window there must be an aggregation keyed on the bucket
    assert(p.contains("Window"), s"expected the grid window:\n$p")
  }

  test("d128/d129: soft-dedup and bitext shuffle hashes and numerals, never text") {
    for (g <- Seq("d128_soft_dedup_weights", "d129_bitext_candidates")) {
      val df = PipelineQueries.queries(g)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==").head
      val leaked = shuffledInputs(p).filter(_.contains("text#"))
      assert(leaked.isEmpty, s"$g: doc text crossed an exchange: $leaked\n$p")
      assert(!p.contains("CartesianProduct"), s"$g: cartesian product:\n$p")
    }
  }

  test("d130 kneser-ney: bigram counts partial-aggregate; joins stay vocab-sized") {
    val df = PipelineQueries.queries("d130_kneser_ney_bigrams")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // the raw bigram stream must collapse map-side before its ONE
    // corpus-sized shuffle; every later table is vocab²-or-smaller
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final bigram aggregation:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row N1+(··) total must broadcast:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
  }

  test("d131 tertiles: the ntile window stays per-source, never one partition") {
    // pre-checkpoint plan — the gate's eager checkpoint hides it.
    // Full explain text (details follow the AQE initial-plan tree):
    // the window spec itself must show per-source partitioning.
    val (tf, df) = PipelineQueries.perplexityTertilesPlan(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    tf.unpersist()
    assert(raw"ntile\(3\) windowspecdefinition\(source#\d+".r
      .findFirstIn(p).nonEmpty,
      s"expected the rank window partitioned by source:\n$p")
    assert(!p.contains("Arguments: SinglePartition"),
      s"tertiles must rank per SOURCE — a global window serializes:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
  }

  test("d133 exact decontamination: eval grams broadcast; train side never sort-merges") {
    val df = PipelineQueries.queries("d133_exact_ngram_decontam")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // the benchmark gram set is eval-sized: it must reach the train
    // scan as a broadcast probe, never pull the corpus into a
    // sort-merge join on gram hashes
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"train grams must not sort-merge against eval:\n$p")
    // per-doc counters partial-aggregate before the one shuffle
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final per-doc aggregation:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
  }

  test("d134 matryoshka: queries broadcast on both rankings; top-k windows stay per-query") {
    val df = PipelineQueries.queries("d134_matryoshka_recall")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // the 10-row query set must broadcast against the streaming corpus
    // in BOTH the full-dim and prefix-dim rankings — never a
    // corpus × corpus product
    val bc = p.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("BroadcastHashJoin"))
    assert(bc >= 2, s"expected both rankings to broadcast the query side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized sort-merge join:\n$p")
  }

  test("d135 vocab overlap: corpus collapses to vocab at the first aggregate; text stays map-side") {
    val df = PipelineQueries.queries("d135_source_vocab_overlap")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // distinct must partial-aggregate before its shuffle
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("d136 KS drift: scan prunes to (source, n_chars); windows stay per-source") {
    val df = PipelineQueries.queries("d136_ks_length_drift")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // column pruning: the KS statistic never needs text — the parquet
    // scan must not materialize it
    assert(!p.contains("text#"),
      s"KS drift read the text column it never uses:\n$p")
    // the cumulative-CDF window runs per source, never one partition
    assert(!p.contains("Arguments: SinglePartition"),
      s"the CDF window must partition by source:\n$p")
  }

  test("d137 code detection: signals ride the scan; only the flagged set shuffles") {
    val df = PipelineQueries.queries("d137_code_detection")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    // per-row char-class math must filter BEFORE any exchange — the
    // corpus never shuffles, only the (tiny) flagged set reaches the
    // order-by
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"expected only the final order-by exchange:\n$p")
  }

  test("d138 t-closeness: scan prunes text; grid work is group-count-sized") {
    val df = PipelineQueries.queries("d138_t_closeness")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("text#"),
      s"t-closeness read the text column it never uses:\n$p")
    // the corpus collapses at the first (lang, bucket, source) count;
    // partial aggregation must precede its shuffle
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("d140/d141: shard audit and vocab curve collapse map-side; text never shuffles") {
    for (g <- Seq("d140_shard_skew_audit", "d141_vocab_growth_curve")) {
      val df = PipelineQueries.queries(g)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==").head
      val leaked = shuffledInputs(p).filter(_.contains("text#"))
      assert(leaked.isEmpty, s"$g: doc text crossed an exchange: $leaked\n$p")
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
        s"$g: expected partial+final aggregation:\n$p")
      assert(!p.contains("CartesianProduct"), s"$g: cartesian product:\n$p")
    }
  }

  test("TVF expansion preserves filter pushdown to the parquet scan") {
    // the table function body inlines at statement prep, so a WHERE on
    // the call site AND the body's own parameter filter both reach the
    // scan — the property that makes TVFs usable over 100 TB tables
    Tables.views(spark, sfDir, "orders")
    spark.sql("DROP TABLE IF EXISTS default.tvf_audit_orders")
    spark.table("orders").write.saveAsTable("default.tvf_audit_orders")
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE OR REPLACE TABLE FUNCTION big_orders(floor_p FLOAT64) AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM default.tvf_audit_orders WHERE o_totalprice >= floor_p
        |)""".stripMargin)
    val df = sr.run(
      "SELECT o_orderkey, o_custkey FROM big_orders(50000.0) " +
        "WHERE o_orderpriority = '1-URGENT'").get
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters") && p.contains("o_totalprice") &&
      p.contains("o_orderpriority"),
      s"both the TVF parameter filter and the call-site filter must push down:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_orderdate"),
      s"expected pruned ReadSchema through the TVF, got $readSchema")
    spark.sql("DROP TABLE IF EXISTS default.tvf_audit_orders")
  }

  test("native text kernels (regexp_instr, initcap) stay inside whole-stage codegen") {
    graft.functions.BitSketchExpressions.register(spark)
    Tables.views(spark, sfDir, "nation")
    val df = spark.sql(Dialect.rewrite(
      "SELECT REGEXP_INSTR(n_name, '[^ ]+', 1, 2) AS ri, INITCAP(n_name) AS c " +
        "FROM nation"))
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // formatted mode marks codegen'd nodes with a `*` prefix and a
    // `[codegen id : N]` tag — the Project carrying the kernels must
    // have both (an interpreted fallback would print a bare Project)
    assert(p.linesIterator.exists(l => l.trim.startsWith("* Project")),
      s"the kernel projection must codegen, not fall back to interpreted:\n$p")
    assert(p.contains("codegen id"), s"expected codegen stage tags:\n$p")
  }

  test("d07 minhash: candidate generation is one banded exchange, no banded self-join (r11)") {
    // the r11 bucketPairs shape: ONE ObjectHashAggregate pair over
    // (band, bh) collecting capped id lists — the banded table crosses
    // the network once; the former self-join exchanged it per side
    import org.apache.spark.sql.functions.col
    graft.functions.BitSketchExpressions.register(spark)
    val docs = Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val pairs = graft.ops.TextDedup.minhashLshPairs(docs, materialize = false)
    pairs.collect()
    val p = pairs.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("ObjectHashAggregate"),
      s"bucket membership should aggregate, not self-join:\n$p")
    // no join keyed on the band/bucket columns anywhere in the plan
    val bandJoin = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("band"))
    assert(bandJoin.isEmpty, s"banded self-join resurfaced: ${bandJoin.toList}\n$p")
    // r12 memory bound: a row_number window pre-limits bucket
    // membership BEFORE the collect_list, and it must SHARE the
    // aggregate's (band, bh) exchange — window + aggregate, one shuffle
    assert(p.contains("Window"),
      s"expected the row_number bucket pre-limit window:\n$p")
    // exactly two data shuffles end-to-end: the banded (band, bh)
    // exchange (shared by window + both aggregate phases — the
    // ObjectHashAggregate pair runs back-to-back with no exchange
    // between) and the final (a, b) pair dedup; the sketch re-joins
    // broadcast
    val dataExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange (") && !l.contains("BroadcastExchange")).toList
    assert(dataExchanges.length == 2,
      s"expected exactly 2 data exchanges (banded + pair dedup), got " +
        s"${dataExchanges.length}: $dataExchanges\n$p")
  }

  test("d139 CMS: the 1024-cell sketch broadcasts; token counts partial-aggregate") {
    val df = PipelineQueries.queries("d139_count_min_sketch")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"the fixed-size sketch table should broadcast into the probe:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final token aggregation:\n$p")
    val leaked = shuffledInputs(p).filter(_.contains("text#"))
    assert(leaked.isEmpty, s"doc text crossed an exchange: $leaked\n$p")
  }
}
