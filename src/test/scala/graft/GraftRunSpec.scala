package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.Scratch

/** End-to-end CLI contract (A29/A30): env map in → macro-rendered query
  * through the load-method engine → destination rows + xcom JSON out.
  * Exercises `GraftRun.run` exactly as `main` does, with an injected
  * env and session.
  */
class GraftRunSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("env contract end-to-end: macros render, APPEND writes, xcom emitted") {
    val jobDir = Paths.get(Scratch.onDisk("graft_job"))
    Files.createDirectories(jobDir.resolve("in"))
    val xcom = jobDir.resolve("xcom.json")
    spark.sql("DROP DATABASE IF EXISTS graft__gr CASCADE")
    spark.sql(s"CREATE DATABASE graft__gr LOCATION '${Scratch.onDisk("graft_gr")}'")
    spark.sql("CREATE TABLE graft__gr.src (id BIGINT, d STRING) USING parquet")
    spark.sql(
      "INSERT INTO graft__gr.src VALUES (1, '2024-01-01'), (2, '2024-01-02'), (3, '2024-01-03')")
    spark.sql("CREATE TABLE graft__gr.dst (id BIGINT, d STRING) USING parquet")
    Files.writeString(jobDir.resolve("in/query.sql"),
      "SELECT id, d FROM `graft`.`gr`.`src` WHERE d >= '__dstart__' AND d < '__dend__'")
    val env = Map(
      "JOB_DIR" -> jobDir.toString, "XCOM_PATH" -> xcom.toString,
      "DSTART" -> "2024-01-02", "DEND" -> "2024-01-03",
      "EXECUTION_TIME" -> "2024-01-03T00:00:00",
      "JOB_LABELS" -> "owner=spec,job=e2e",
      "PROJECT" -> "graft", "DATASET" -> "gr", "TABLE" -> "dst",
      "LOAD_METHOD" -> "APPEND")
    GraftRun.run(env, spark)
    val rows = spark.table("graft__gr.dst").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(2L),
      s"one-day window should append exactly the 2024-01-02 row, got ${rows.mkString(",")}")
    assert(Files.exists(xcom), "xcom JSON must be written")
    val xj = Files.readString(xcom)
    assert(xj.contains("execution_time") && xj.contains("monitoring"),
      s"xcom missing contract fields: $xj")
    // APPEND is append: a second identical run doubles the rows
    GraftRun.run(env, spark)
    assert(spark.table("graft__gr.dst").count() == 2)
  }

  test("spillover_date.sql under JOB_DIR routes through the spillover path") {
    val jobDir = Paths.get(Scratch.onDisk("graft_job_sp"))
    Files.createDirectories(jobDir.resolve("in"))
    val xcom = jobDir.resolve("xcom.json")
    spark.sql("DROP DATABASE IF EXISTS graft__gr3 CASCADE")
    spark.sql(s"CREATE DATABASE graft__gr3 LOCATION '${Scratch.onDisk("graft_gr3")}'")
    spark.sql("CREATE TABLE graft__gr3.src (id BIGINT, d STRING) USING parquet")
    spark.sql(
      """INSERT INTO graft__gr3.src VALUES
        |  (1, '2024-01-01'), (2, '2024-01-02'), (3, '2024-01-03')""".stripMargin)
    spark.sql(
      "CREATE TABLE graft__gr3.dst (cnt BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    // main query computes one partition per window day
    Files.writeString(jobDir.resolve("in/query.sql"),
      """SELECT count(1) AS cnt, d FROM `graft`.`gr3`.`src`
        |WHERE d >= '__dstart__' AND d < '__dend__' GROUP BY d""".stripMargin)
    // spillover dates OUTSIDE the window: 01-01 and 01-03
    Files.writeString(jobDir.resolve("in/spillover_date.sql"),
      "SELECT d FROM `graft`.`gr3`.`src` WHERE id IN (1, 3)")
    val env = Map(
      "JOB_DIR" -> jobDir.toString, "XCOM_PATH" -> xcom.toString,
      "DSTART" -> "2024-01-02", "DEND" -> "2024-01-03",
      "EXECUTION_TIME" -> "2024-01-03T00:00:00",
      "JOB_LABELS" -> "owner=spec",
      "PROJECT" -> "graft", "DATASET" -> "gr3", "TABLE" -> "dst",
      "LOAD_METHOD" -> "REPLACE", "USE_SPILLOVER" -> "true")
    GraftRun.run(env, spark)
    val got = spark.table("graft__gr3.dst").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(got == Map("2024-01-01" -> 1L, "2024-01-03" -> 1L),
      s"spillover should recompute exactly its dates, got $got")
  }

  test("dry-run renders and plans but writes nothing, still emits xcom") {
    val jobDir = Paths.get(Scratch.onDisk("graft_job_dry"))
    Files.createDirectories(jobDir.resolve("in"))
    val xcom = jobDir.resolve("xcom.json")
    spark.sql("DROP DATABASE IF EXISTS graft__gr2 CASCADE")
    spark.sql(s"CREATE DATABASE graft__gr2 LOCATION '${Scratch.onDisk("graft_gr2")}'")
    spark.sql("CREATE TABLE graft__gr2.src (id BIGINT, d STRING) USING parquet")
    spark.sql("INSERT INTO graft__gr2.src VALUES (1, '2024-01-02')")
    spark.sql("CREATE TABLE graft__gr2.dst (id BIGINT, d STRING) USING parquet")
    Files.writeString(jobDir.resolve("in/query.sql"),
      "SELECT id, d FROM `graft`.`gr2`.`src` WHERE d >= '__dstart__' AND d < '__dend__'")
    val env = Map(
      "JOB_DIR" -> jobDir.toString, "XCOM_PATH" -> xcom.toString,
      "DSTART" -> "2024-01-02", "DEND" -> "2024-01-03",
      "EXECUTION_TIME" -> "2024-01-03T00:00:00",
      "DRY_RUN" -> "true", "JOB_LABELS" -> "owner=spec",
      "PROJECT" -> "graft", "DATASET" -> "gr2", "TABLE" -> "dst",
      "LOAD_METHOD" -> "APPEND")
    GraftRun.run(env, spark)
    assert(spark.table("graft__gr2.dst").count() == 0, "dry-run must not write")
    assert(Files.exists(xcom))
  }
}
