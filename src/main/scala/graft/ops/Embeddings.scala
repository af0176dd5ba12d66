package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Public similarity-search / embedding API.
  *
  * Input embedding DataFrames carry an id column and a float-array
  * vector column (defaults `vec_id`/`embedding`). All similarity math
  * runs on int64-quantized vectors (×1000): every dot product is a sum
  * of int64 products < 2^53, so DOUBLE cosines are bit-identical in any
  * summation order and engine — the property that lets ANN results be
  * hash-compared instead of eyeballed.
  *
  * Scale posture: the query side of every top-k op broadcasts; the
  * candidate corpus streams through exactly once and is never
  * self-joined. IVF probing bounds the candidate set per query;
  * [[topKAggregated]] keeps a bounded k-buffer per group with map-side
  * combine — the 100 TB path where a global sort of the scored set
  * would dominate.
  */
object Embeddings {

  /** int64 quantization (×1000) + squared-norm column: (id, q, nrm).
    * Dot products run through the codegen'd [[graft.functions.DotLong]]
    * kernel — exact int math, so results are identical to the HOF
    * formulation the oracle replays, without the per-pair zipped
    * intermediate array and interpreted lambdas.
    */
  def quantized(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    graft.functions.BitSketchExpressions.register(df.sparkSession)
    df.select(col(idCol).as("vec_id"),
        expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 1000) as bigint))").as("q"))
      .withColumn("nrm", expr("graft_dot_i64(q, q)"))
  }

  private val cosExpr =
    """round(cast(graft_dot_i64(qq, q) as double)
      | / (sqrt(cast(qnrm as double)) * sqrt(cast(nrm as double))), 6)""".stripMargin

  /** Exact cosine top-k per query over the full corpus. `queries` and
    * `corpus` are outputs of [[quantized]]; queries broadcast, the
    * corpus streams once. Returns (query_id, rank, neighbor_id, cos).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("q").as("qq"), col("nrm").as("qnrm"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(cosExpr))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors with a DIFFERENT label — the
    * negatives nearest the decision boundary, the ones that actually
    * teach. Same broadcast-queries / corpus-streams-once shape as
    * [[bruteForceTopK]]; the label predicate is per-QUERY (it rides
    * the join condition), so no pre-filtered corpus copy is ever
    * materialized. Inputs are [[quantized]] outputs with `label`
    * joined back on.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("q").as("qq"), col("nrm").as("qnrm"))
    val scored = corpus.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("cos", expr(cosExpr))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("label"), col("cos"))
  }

  /** Near-duplicate vector pairs via sign-random-projection LSH: pairs
    * sharing a full SRP signature bucket are verified with the exact
    * cosine. Returns (a, b, cos) with cos ≥ `cosThreshold`.
    */
  def srpPairs(corpus: DataFrame, cosThreshold: Double = 0.95): DataFrame = {
    graft.functions.BitSketchExpressions.register(corpus.sparkSession)
    val e = corpus.withColumn("sig", expr("graft_srp_sig(q)"))
    val a = e.select(col("sig"), col("vec_id").as("a"), col("q").as("qa"), col("nrm").as("na"))
    val b = e.select(col("sig"), col("vec_id").as("b"), col("q").as("qb"), col("nrm").as("nb"))
    a.join(b, Seq("sig")).where(col("a") < col("b"))
      .withColumn("cos", expr(
        """round(cast(graft_dot_i64(qa, qb) as double)
          | / (sqrt(cast(na as double)) * sqrt(cast(nb as double))), 6)""".stripMargin))
      .where(col("cos") >= cosThreshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Nearest-centroid assignment (exact-int L2², centroids broadcast):
    * (vec_id, cent_id, q, nrm, dist). `centroids` needs (cent_id, cq).
    *
    * The argmin runs PER ROW over a broadcast centroid ARRAY
    * (array_min over (dist, cent_id) structs — the struct's
    * lexicographic order IS the min-dist-then-min-id tie-break), so
    * the corpus never explodes to N·K rows and there is no window
    * sort. At K = √N that turns an N·K-row exchange+sort into a
    * codegen'd per-row loop — the difference between minutes and
    * seconds at 500k vectors.
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .agg(collect_list(struct(col("cent_id"), col("cq"))).as("__cents"))
    corpus.join(broadcast(centArr), expr("true"))
      .withColumn("__best", expr(
        "array_min(transform(__cents, c -> " +
          "struct(graft_l2_i64(q, c.cq) AS dist, c.cent_id AS cent_id)))"))
      .withColumn("cent_id", col("__best.cent_id"))
      .withColumn("dist", col("__best.dist"))
      .drop("__cents", "__best")
  }

  /** IVF-style ANN: vectors are assigned to their nearest centroid;
    * each query probes its `nProbe` nearest cells and ranks only the
    * vectors in them — the candidate set is bounded by cell sizes
    * instead of the corpus. Returns (query_id, rank, neighbor_id, cos).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids)
      .select(col("vec_id"), col("cent_id"), col("q"), col("nrm"))
    val qs = queries.select(col("vec_id").as("query_id"),
      col("q").as("qq"), col("nrm").as("qnrm"))
    val l2q = "graft_l2_i64(qq, cq)"
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cent_id"))
    val probes = qs.join(broadcast(centroids), expr("true"))
      .withColumn("dist", expr(l2q))
      .withColumn("rn", row_number().over(wProbe)).where(col("rn") <= nProbe)
      .select(col("query_id"), col("qq"), col("qnrm"), col("cent_id"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, Seq("cent_id"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(cosExpr))
      .withColumn("rank", row_number().over(wTop)).where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — cluster, then drop intra-cluster near-
    * duplicates by embedding cosine): every vector is assigned to its
    * nearest centroid (broadcast argmin — the corpus streams once),
    * then within each cell a vector is DROPPED when its cosine
    * similarity to any LOWER-id vector of the same cell reaches the
    * threshold (greedy keep-first representative — deterministic, and
    * a rule an oracle can restate exactly). Pairwise work is bounded
    * by Σ|cell|², like every candidate generator in this engine —
    * never corpus². `corpus`/`centroids` are [[quantized]] outputs
    * ((vec_id, q, nrm) / (cent_id, cq, cnrm)). Returns (vec_id,
    * cent_id, kept, near_id) with near_id = the lowest suppressing id
    * (NULL when kept).
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids)
      .select(col("vec_id"), col("cent_id"), col("q"), col("nrm"))
    val earlier = assigned.select(col("cent_id"), col("vec_id").as("b_id"),
      col("q").as("qq"), col("nrm").as("qnrm"))
    val suppressed = assigned.join(earlier, Seq("cent_id"))
      .where(col("b_id") < col("vec_id"))
      .withColumn("cos", expr(cosExpr))
      .where(col("cos") >= threshold)
      .groupBy(col("vec_id")).agg(min(col("b_id")).as("near_id"))
    assigned.join(suppressed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        col("near_id").isNull.as("kept"), col("near_id"))
  }

  /** Lloyd refinement of IVF centroids: broadcast-assign, re-average
    * per component with floor(mean + 0.5) rounding (engine-identical),
    * `iters` times. Returns refined (cent_id, cq).
    */
  def kmeansRefine(corpus: DataFrame, initCentroids: DataFrame, iters: Int): DataFrame = {
    var cents = initCentroids
    for (_ <- 1 to iters) {
      cents = assignToCentroids(corpus, cents)
        .select(col("cent_id"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg(expr("cast(floor(cast(sum(v) as double) / count(1) + 0.5d) as bigint)").as("mv"))
        .groupBy("cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), x -> x.mv)").as("cq"))
    }
    cents
  }

  /** Cosine top-k via a typed Aggregator: each group keeps a bounded
    * k-buffer merged map-side before the shuffle — no global sort of
    * the scored candidate set. Same contract as [[bruteForceTopK]].
    */
  def topKAggregated(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAggregator
    val q = queries.select(col("vec_id").as("query_id"),
      col("q").as("qq"), col("nrm").as("qnrm"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(cosExpr))
      .select(col("query_id"), col("vec_id"), col("cos"))
      .as[(Long, Long, Double)]
    scored
      .groupByKey(_._1)
      .mapValues { case (_, vid, cos) => TopKAggregator.Scored(vid, cos) }
      .agg(TopKAggregator.topK(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (sc, i) => (qid, (i + 1).toLong, sc.id, sc.score) }
      }
      .toDF("query_id", "rank", "neighbor_id", "cos")
  }

  /** Symmetric int8 quantization per vector (storage / ANN-index prep):
    * scale = max|x| (order-independent — no float-sum race), q_j =
    * round(127·x_j/scale). Pure per-row expressions, zero shuffles.
    * Returns (vec_id, dim, scale, q).
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("vec_id"),
        size(col(vecCol)).cast(LongType).as("dim"),
        expr(s"greatest(array_max(transform($vecCol, x -> abs(cast(x as double)))), cast(1e-30 as double))").as("scale"),
        col(vecCol))
      .withColumn("q", expr(
        s"transform($vecCol, x -> cast(round(127.0 * cast(x as double) / scale) as bigint))"))
      .drop(vecCol)

  /** Product-quantization encode: split each [[quantized]] vector into
    * `m` equal sub-blocks and assign every block to its nearest
    * codebook centroid by EXACT integer L2 — the compression step that
    * makes billion-vector ANN affordable (m bytes/vector instead of
    * the raw floats). `codebooks` holds `ksub` full-width vectors
    * (cent_id, cq); block b's codebook is their b-th slice, so one
    * broadcast table serves all blocks.
    *
    * Scale shape: the assignment stream is n·m·ksub SLIM rows
    * (ids + one int distance) against a broadcast codebook — linear
    * in n, never a pairwise join; argmin ties break on cent_id.
    * Returns (vec_id, codes[m], sqerr) — codes in block order, sqerr
    * = total squared reconstruction error.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    graft.functions.BitSketchExpressions.register(corpus.sparkSession)
    val cents = codebooks.select(col("cent_id"), col("cq"))
    val assigned = corpus.select(col("vec_id"), col("q"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        explode(expr(
          s"""transform(sequence(0, $m - 1), b -> struct(b as block,
             |  graft_l2_i64(slice(q, b * (size(q) div $m) + 1, size(q) div $m),
             |               slice(cq, b * (size(cq) div $m) + 1, size(cq) div $m)) as dist))""".stripMargin)).as("bd"))
      .select(col("vec_id"), col("bd.block"), col("cent_id"), col("bd.dist"))
    assigned
      .groupBy(col("vec_id"), col("block"))
      .agg(min(struct(col("dist"), col("cent_id"))).as("best"))
      .groupBy(col("vec_id"))
      .agg(
        expr("transform(array_sort(collect_list(struct(block, best))), x -> x.best.cent_id)")
          .as("codes"),
        sum(col("best.dist")).as("sqerr"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    * approximate L2 distance to every vector is the sum over blocks of
    * a precomputed (query, block, centroid) lookup-table entry — the
    * query stays full-precision, the corpus is m small ints. The LUT
    * is queries·m·ksub rows (tiny, broadcast); the scoring join
    * shuffles only (vec_id, block, code) ints. Exact integer math —
    * engine-reproducible. Returns (query_id, rank, neighbor_id,
    * adc_dist), self-matches excluded.
    */
  /** IVF-PQ (IVFADC) top-k — the composition that serves
    * billion-vector ANN in production: a coarse quantizer routes each
    * vector to one of `nlist` inverted lists, PQ encodes its RESIDUAL
    * (vector − list centroid, where codes are far more accurate than
    * on raw vectors), and a query scans only its `nProbe` nearest
    * lists with per-list ADC lookup tables.
    *
    * Scale shape: both codebooks broadcast; the corpus streams once
    * through assignment+encode (n·m·ksub slim rows, like [[pqEncode]]);
    * scoring joins the (queries·nProbe·m·ksub)-row LUT on
    * (list, block, code) ints — vectors outside a query's probed
    * lists never score, and nothing pairwise ever materializes.
    * Exact integer math throughout. Returns (query_id, rank,
    * neighbor_id, adc_dist), self-matches excluded.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, coarse: DataFrame,
      pqCodebooks: DataFrame, m: Int, nProbe: Int, k: Int): DataFrame = {
    graft.functions.BitSketchExpressions.register(corpus.sparkSession)
    val cents = broadcast(coarse.select(col("cent_id"), col("cq")))
    // corpus → (vec_id, list_id, residual)
    val assigned = corpus.select(col("vec_id"), col("q")).join(cents)
      .withColumn("dist", expr("graft_l2_i64(q, cq)"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("dist").asc, col("cent_id").asc)))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("list_id"),
        expr("zip_with(q, cq, (x, y) -> x - y)").as("resid"))
    // residual PQ codes, list_id re-joined on the slim id stream
    val codes = pqEncode(assigned.select(col("vec_id"), col("resid").as("q")),
        pqCodebooks, m)
      .join(assigned.select(col("vec_id"), col("list_id")), "vec_id")
      .select(col("vec_id"), col("list_id"),
        posexplode(col("codes")).as(Seq("block", "code")))
    // query → nProbe nearest lists, with the query's residual per list
    val probes = queries.select(col("vec_id").as("query_id"), col("q").as("qq"))
      .join(cents)
      .withColumn("dist", expr("graft_l2_i64(qq, cq)"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dist").asc, col("cent_id").asc)))
      .where(col("rn") <= nProbe)
      .select(col("query_id"), col("cent_id").as("list_id"),
        expr("zip_with(qq, cq, (x, y) -> x - y)").as("qresid"))
    // per-(query, list) ADC lookup table over the residual codebook
    val lut = probes
      .crossJoin(broadcast(pqCodebooks.select(col("cent_id").as("code"), col("cq").as("pcq"))))
      .select(col("query_id"), col("list_id"), col("code"),
        explode(expr(
          s"""transform(sequence(0, $m - 1), b -> struct(b as block,
             |  graft_l2_i64(slice(qresid, b * (size(qresid) div $m) + 1, size(qresid) div $m),
             |               slice(pcq, b * (size(pcq) div $m) + 1, size(pcq) div $m)) as dist))""".stripMargin)).as("bd"))
      .select(col("query_id"), col("list_id"), col("bd.block"), col("code"), col("bd.dist"))
    val scored = codes.join(broadcast(lut), Seq("list_id", "block", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dist")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("adc_dist"))
  }

  def pqAdcTopK(corpus: DataFrame, queries: DataFrame,
      codebooks: DataFrame, m: Int, k: Int): DataFrame = {
    graft.functions.BitSketchExpressions.register(corpus.sparkSession)
    val lut = queries.select(col("vec_id").as("query_id"), col("q").as("qq"))
      .crossJoin(codebooks.select(col("cent_id"), col("cq")))
      .select(col("query_id"), col("cent_id").as("code"),
        explode(expr(
          s"""transform(sequence(0, $m - 1), b -> struct(b as block,
             |  graft_l2_i64(slice(qq, b * (size(qq) div $m) + 1, size(qq) div $m),
             |               slice(cq, b * (size(cq) div $m) + 1, size(cq) div $m)) as dist))""".stripMargin)).as("bd"))
      .select(col("query_id"), col("bd.block"), col("code"), col("bd.dist"))
    val codeRows = pqEncode(corpus, codebooks, m)
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("block", "code")))
    val scored = codeRows.join(broadcast(lut), Seq("block", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dist")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("adc_dist"))
  }
}
