package graft.engine

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.config.{LoadMethod, QueryPriority, TaskConfig}
import graft.core.window.CustomWindow
import graft.streaming.StreamingOps.Scratch

/** A26: QUERY_PRIORITY (config.py:159-163) routes each run's Spark jobs
  * into a FAIR scheduler pool — INTERACTIVE outweighs BATCH.
  */
class QueryPrioritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    // scheduler mode is a SparkContext-creation-time setting: a live
    // session from a previous suite would win getOrCreate, so clear it
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  private def conf(priority: QueryPriority): TaskConfig = TaskConfig(
    destinationProject = "graft", destinationDataset = "prio",
    destinationTableName = "out", sqlType = "STANDARD",
    loadMethod = LoadMethod.Append, executionProject = "graft",
    queryPriority = priority)

  private def runOnce(priority: QueryPriority): String = {
    val loc = Scratch.onDisk("graft_prio")
    spark.sql("DROP DATABASE IF EXISTS graft__prio CASCADE")
    spark.sql(s"CREATE DATABASE graft__prio LOCATION '$loc'")
    spark.sql("CREATE TABLE graft__prio.out (x BIGINT) USING PARQUET")
    new TransformRunner(spark).transform(
      conf(priority), "SELECT 1 AS x",
      CustomWindow(LocalDateTime.of(2024, 1, 1, 0, 0), LocalDateTime.of(2024, 1, 2, 0, 0)),
      LocalDateTime.of(2024, 1, 1, 0, 0))
    spark.sparkContext.getLocalProperty("spark.scheduler.pool")
  }

  test("BATCH priority routes jobs to the batch pool") {
    assert(runOnce(QueryPriority.Batch) == "batch")
  }

  test("INTERACTIVE priority routes jobs to the interactive pool") {
    assert(runOnce(QueryPriority.Interactive) == "interactive")
  }

  test("fairscheduler.xml pools exist with interactive outweighing batch") {
    // force pool initialization under FAIR mode by touching the pools
    runOnce(QueryPriority.Batch)
    runOnce(QueryPriority.Interactive)
    val interactive = spark.sparkContext.getPoolForName("interactive")
    val batch = spark.sparkContext.getPoolForName("batch")
    assert(interactive.isDefined, "interactive pool missing (fairscheduler.xml not loaded?)")
    assert(batch.isDefined, "batch pool missing (fairscheduler.xml not loaded?)")
    // Schedulable is private[spark]; read the configured weights reflectively
    def weight(p: AnyRef): Int =
      p.getClass.getMethod("weight").invoke(p).asInstanceOf[Int]
    assert(weight(interactive.get) > weight(batch.get))
  }
}
