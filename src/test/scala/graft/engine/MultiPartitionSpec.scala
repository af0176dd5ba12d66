package graft.engine

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.config.{LoadMethod, TaskConfig}
import graft.core.window.CustomWindow
import graft.streaming.StreamingOps.Scratch

/** REPLACE-on-partitioned break-marker semantics beyond the e02 gate
  * flow: the reference errors only when there are FEWER queries than
  * partitions (`transformation.py`: `len(task_queries) <
  * len(datetime_list)`) and silently ignores trailing extras.
  */
class MultiPartitionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val marker = "\n--*--optimus-break-marker--*--\n"

  private def conf = TaskConfig(
    destinationProject = "mp", destinationDataset = "ds",
    destinationTableName = "t", sqlType = "STANDARD",
    loadMethod = LoadMethod.Replace, executionProject = "mp")

  private def freshDest(): Unit = {
    spark.sql("DROP DATABASE IF EXISTS mp__ds CASCADE")
    val loc = Scratch.onDisk("mpspec")
    spark.sql(s"CREATE DATABASE mp__ds LOCATION '$loc'")
    spark.sql(
      "CREATE TABLE mp__ds.t (v BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
  }

  test("extra trailing queries beyond the partition count are ignored") {
    freshDest()
    val window = CustomWindow(
      LocalDateTime.parse("2021-01-01T00:00"), LocalDateTime.parse("2021-01-03T00:00"))
    // 3 slices for a 2-day window: the third must be ignored, not an error
    val sql = Seq("SELECT 1 AS v", "SELECT 2 AS v", "SELECT 99 AS v").mkString(marker)
    new TransformRunner(spark).multiPartitionTransform(
      conf, sql, window, LocalDateTime.now(), "d", dryRun = false)
    val rows = spark.table("mp__ds.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq((1L, "2021-01-01"), (2L, "2021-01-02")))
  }

  test("fewer queries than partitions is still an error") {
    freshDest()
    val window = CustomWindow(
      LocalDateTime.parse("2021-01-01T00:00"), LocalDateTime.parse("2021-01-04T00:00"))
    val sql = Seq("SELECT 1 AS v", "SELECT 2 AS v").mkString(marker)
    val e = intercept[IllegalArgumentException] {
      new TransformRunner(spark).multiPartitionTransform(
        conf, sql, window, LocalDateTime.now(), "d", dryRun = false)
    }
    assert(e.getMessage.contains("less than partition count"))
  }
}
