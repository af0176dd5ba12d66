package steadybench

import org.apache.spark.sql.functions.col

import graft.ops.TextDedup

/** The dedup part of the bq2bq_backfill round: each op dedups one batch of
  * generated documents through `TextDedup.minhashLshPairs` then
  * `connectedComponents`. A pool of batches is generated up front and
  * written to Parquet; the ops cycle through it, reading each batch afresh.
  *
  * Documents are random word sequences over a synthetic vocabulary. Each
  * batch plants 51 clusters of two to four near duplicates (153 of its
  * 1500 documents): each copy substitutes about 3% of its base
  * document's words.
  */
final class Dedup(c: Ctx) extends Workload {
  import c._

  private val batchDocs = 1500
  private val poolSize = 8
  private val clusters = 51
  private val vocab = 6000
  val verifyThreshold = 0.3
  /** Planted-pair recall at the default seed, less a margin. */
  val recallFloor = 0.90

  final case class Batch(docs: IndexedSeq[(Long, String)], planted: Seq[(Long, Long)])
  private var pool: IndexedSeq[Batch] = IndexedSeq.empty
  private var recalls = Vector[Double]()

  private def word(rng: scala.util.Random) = "w" + Integer.toString(rng.nextInt(vocab), 36)

  /** A batch with the same structure at every seed: `clusters` planted
    * clusters of two, three or four near copies, spread evenly among the
    * single documents. Only the words depend on the seed.
    */
  def genBatch(b: Int, rng: scala.util.Random): Batch = {
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val planted = Seq.newBuilder[(Long, Long)]
    def add(text: String): Long = {
      val id = b * 1000000L + docs.size
      docs += ((id, text))
      id
    }
    def single(): Array[String] = Array.fill(40 + rng.nextInt(41))(word(rng))
    val clusterDocs = (0 until clusters).map(c => 2 + c % 3).sum
    val gap = (batchDocs - clusterDocs) / clusters
    (0 until clusters).foreach { c =>
      (0 until gap).foreach(_ => add(single().mkString(" ")))
      val words = single()
      val ids = add(words.mkString(" ")) +: (1 to 1 + c % 3).map { _ =>
        val copy = words.clone()
        (0 until math.max(1, copy.length * 3 / 100)).foreach(_ =>
          copy(rng.nextInt(copy.length)) = word(rng))
        add(copy.mkString(" "))
      }
      for (x <- ids; y <- ids if x < y) planted += ((x, y))
    }
    while (docs.size < batchDocs) add(single().mkString(" "))
    Batch(docs.toIndexedSeq, planted.result())
  }

  private val docsDir = work.resolve("docs")

  def prepare(): String = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val dg = new Digest
    pool = (0 until poolSize).map { b =>
      val batch = genBatch(b, rng)
      batch.docs.foreach { case (id, t) => dg.add(s"$id|$t") }
      batch
    }
    // the ops read their batch from Parquet: a frame over local rows would
    // let the optimizer compute the sketches on the driver
    // three files per batch, so the sketch stage runs one task per slot
    pool.zipWithIndex.flatMap { case (bt, b) =>
      bt.docs.map { case (id, t) => (b, (id % Main.Slots).toInt, id, t) } }
      .toDF("batch", "part", "doc_id", "text").repartition(col("batch"), col("part"))
      .write.partitionBy("batch", "part").parquet(docsDir.toString)
    dg.hex
  }

  def op(i: Int): Done = {
    import spark.implicits._
    val batch = pool(i % poolSize)
    val docs = spark.read.parquet(docsDir.resolve(s"batch=${i % poolSize}").toString)
    val pairs = trace.span("dedup.lsh_s")(
      TextDedup.minhashLshPairs(docs, verifyThreshold = verifyThreshold))
    val labels = trace.span("dedup.cc_s")(TextDedup.connectedComponents(pairs.select("a", "b")))
    val gotPairs = pairs.select("a", "b").as[(Long, Long)].collect().toSeq
    val gotLabels = labels.as[(Long, Long)].collect().toMap
    trace.count("dedup.pairs", gotPairs.size.toDouble)
    Done(batch.docs.size, () => {
      val (problems, recall) = Checks.dedup(batch.docs.toMap, gotPairs, gotLabels,
        batch.planted, verifyThreshold, recallFloor)
      recalls :+= recall
      problems
    })
  }

  override def layers(ops: Seq[(OpTrace, Long)]): Map[String, Double] = {
    def perOp(f: OpTrace => Double) = Workload.mean(ops.map(o => f(o._1)))
    Map(
      "dedup.lsh_s" -> perOp(_.spans("dedup.lsh_s")),
      "dedup.cc_s" -> perOp(_.spans("dedup.cc_s")),
      // each round of connectedComponents ends in a count action
      "dedup.cc_rounds" -> perOp(t => t.execs.count { case (f, at) =>
        f == "count" && t.calls.exists(c => c._1 == "dedup.cc_s" && c._2 <= at && at <= c._3)
      }.toDouble),
      "dedup.sketch_task_cpu_s" -> perOp(t =>
        t.sketchStages.toSeq.map(s => t.stageCpuNs.getOrElse(s, 0L)).sum / 1e9),
      "dedup.pairs" -> perOp(_.counts("dedup.pairs")),
      "dedup.recall" -> Workload.mean(recalls))
  }

  override def facts: Map[String, Any] = Map(
    "batch_docs" -> batchDocs, "pool_batches" -> poolSize, "planted_clusters" -> clusters,
    "planted_pairs_per_batch" -> Workload.mean(pool.map(_.planted.size.toDouble)),
    "verify_threshold" -> verifyThreshold, "recall_floor" -> recallFloor,
    "recall_median" -> (if (recalls.isEmpty) 0.0 else recalls.sorted.apply(recalls.size / 2)),
    "recall_min" -> (if (recalls.isEmpty) 0.0 else recalls.min))
}
