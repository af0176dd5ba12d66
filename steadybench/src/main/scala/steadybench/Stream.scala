package steadybench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.queries.Tables
import graft.streaming.StreamingOps

/** The stream part of the bq2bq_backfill round: `runBoundedAttribution`
  * (s04, a stream-stream join whose no-data batch is skipped) over a
  * generated `events.parquet`. Its result is checked against the batch
  * DataFrame form of the same query over the same events, computed once
  * during set-up.
  */
final class Stream(c: Ctx) extends Workload {
  import c._

  private val nEvents = 2400
  private val nUsers = 150
  private val plantedPurchases = 150
  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private val spanSeconds = 2 * 86400
  private val sfDir: Path = work.resolve("stream_sf")
  private var expected: Seq[String] = Nil

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  def prepare(): String = {
    val rng = new scala.util.Random(seed)
    val dg = new Digest
    val types = Seq("view", "view", "view", "click", "click", "purchase")
    val base = (0 until nEvents - plantedPurchases).map { i =>
      (i.toLong, rng.nextInt(nUsers).toLong, types(rng.nextInt(types.size)),
        t0 + rng.nextInt(spanSeconds) * 1000L, (1 + rng.nextInt(20000)) / 100.0)
    }
    val clicks = base.filter(_._3 == "click")
    // purchases 1 to 29 minutes after a click of the same user
    val planted = (0 until plantedPurchases).map { k =>
      val cl = clicks(rng.nextInt(clicks.size))
      ((nEvents - plantedPurchases + k).toLong, cl._2, "purchase",
        cl._4 + (60 + rng.nextInt(28 * 60)) * 1000L, (1 + rng.nextInt(20000)) / 100.0)
    }
    val events = base ++ planted
    events.foreach(e => dg.add(e.productIterator.mkString("|")))
    val schemaRows = events.map { case (id, u, t, ts, v) => Row(id, u, t, new Timestamp(ts), v) }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE")
    // one file named events.parquet, as the program's fixtures expect
    val tmp = work.resolve("stream_tmp").toString
    spark.createDataFrame(spark.sparkContext.parallelize(schemaRows, 1), schema)
      .coalesce(1).write.parquet(tmp)
    Files.createDirectories(sfDir)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, sfDir.resolve("events.parquet"))

    // the batch form of the query
    expected = rows(StreamingOps.streamClickAttribution(Tables.t(spark, sfDir.toString, "events"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id")))
    dg.hex
  }

  def op(i: Int): Done = {
    val got = rows(StreamingOps.runBoundedAttribution(spark, sfDir.toString, s"attribution_$i"))
    spark.catalog.dropTempView(s"attribution_$i")
    Done(nEvents, () => Checks.sameRows("attribution", expected, got))
  }

  override def layers(ops: Seq[(OpTrace, Long)]): Map[String, Double] = {
    def perOp(f: OpTrace => Double) = Workload.mean(ops.map(o => f(o._1)))
    def ms(k: String) = perOp(_.streamMs(k) / 1e3)
    Map(
      // from each query's start to its first trigger
      "stream.start_s" -> perOp(t => t.queryStarted.map { case (q, s) =>
        (t.firstBatchStart.getOrElse(q, s) - s) / 1e3 }.sum),
      "stream.batches" -> perOp(_.batches.toDouble),
      "stream.add_batch_s" -> ms("addBatch"),
      "stream.query_planning_s" -> ms("queryPlanning"),
      "stream.wal_commit_s" -> ms("walCommit"),
      "stream.commit_offsets_s" -> ms("commitOffsets"),
      "stream.latest_offset_s" -> ms("latestOffset"),
      "stream.state_commit_s" -> ms("stateCommit"),
      "stream.state_rows" -> perOp(_.lastStateRows.values.sum.toDouble),
      // from the last batch's end to the op's return: stop and read-back
      "stream.tail_s" -> perOp(t =>
        if (t.lastBatchEnd == 0) 0.0 else (t.endMs - t.lastBatchEnd) / 1e3))
  }

  override def facts: Map[String, Any] = Map(
    "events" -> nEvents, "users" -> nUsers, "planted_purchases" -> plantedPurchases,
    "expected_rows" -> expected.size)
}
