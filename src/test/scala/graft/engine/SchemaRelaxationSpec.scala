package graft.engine

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.config.{LoadMethod, TaskConfig}
import graft.core.window.CustomWindow
import graft.streaming.StreamingOps.Scratch

/** ALLOW_FIELD_RELAXATION (`bigquery_service.py:111-115`): REQUIRED →
  * NULLABLE mode evolution is permitted only when the flag is on; a
  * write that would null a REQUIRED column without it fails like
  * BigQuery's schema check. (The allowed path is gate e29.)
  */
class SchemaRelaxationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val window =
    CustomWindow(LocalDateTime.of(2024, 1, 1, 0, 0), LocalDateTime.of(2024, 1, 2, 0, 0))
  private val execTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def conf(allow: Boolean): TaskConfig = TaskConfig(
    destinationProject = "graft", destinationDataset = "relax",
    destinationTableName = "t", sqlType = "STANDARD",
    loadMethod = LoadMethod.Append, executionProject = "graft",
    allowFieldAddition = allow)

  private def fresh(): Unit = {
    spark.sql("DROP DATABASE IF EXISTS graft__relax CASCADE")
    val loc = Scratch.onDisk("graft_relax")
    spark.sql(s"CREATE DATABASE graft__relax LOCATION '$loc'")
    spark.sql("CREATE TABLE graft__relax.t (id BIGINT, note STRING) USING PARQUET")
    spark.sql("ALTER TABLE graft__relax.t SET TBLPROPERTIES ('graft.required.columns'='note')")
    spark.sql("INSERT INTO graft__relax.t VALUES (1, 'seeded')")
  }

  test("append missing a REQUIRED column fails without the flag") {
    fresh()
    val e = intercept[IllegalArgumentException] {
      new TransformRunner(spark).transform(
        conf(allow = false), "SELECT CAST(2 AS BIGINT) AS id", window, execTime)
    }
    assert(e.getMessage.contains("REQUIRED -> NULLABLE"), e.getMessage)
    assert(spark.table("graft__relax.t").count() == 1, "failed write must not append")
  }

  test("with the flag the mode relaxes, the write lands, and the " +
      "relaxation is persisted") {
    fresh()
    new TransformRunner(spark).transform(
      conf(allow = true), "SELECT CAST(2 AS BIGINT) AS id", window, execTime)
    val rows = spark.table("graft__relax.t").orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(1).isNullAt(1), "appended row's relaxed column should be NULL")
    // mode is now NULLABLE: a later append without the flag succeeds
    new TransformRunner(spark).transform(
      conf(allow = false), "SELECT CAST(3 AS BIGINT) AS id", window, execTime)
    assert(spark.table("graft__relax.t").count() == 3)
  }
}
